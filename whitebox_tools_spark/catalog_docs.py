"""Query catalog: training-data pipeline ops over documents/embeddings —
dedup (exact / MinHash-LSH / SimHash), text analysis (tokens, quality,
language id, fingerprints), similarity search (brute-force cosine top-k),
multimodal metadata plumbing.

Every op is JVM-side (HOFs) with an exact DuckDB oracle built from the
same portable md5-based hashing, so signatures match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whitebox_tools_spark.operators import ann, media
from whitebox_tools_spark.operators import text as tx
from whitebox_tools_spark.sources.tables import documents, load

H60 = tx.h60_sql
JACCARD_T = 0.5
SIMHASH_MAX_HAM = 6
ANN_K = 5
ANN_QMOD = 50


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.exact_dedup(documents(spark, sf_dir))


def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = tx.with_minhash(documents(spark, sf_dir))
    # posexplode_OUTER: the signature is always M entries, but a plain
    # posexplode infers size(minhash) > 0 and CollapseProject inlines
    # the full M-permutation build into that pushed scan filter —
    # doubling the md5 work per row (see decontaminate's posts note)
    return sig.select(
        "doc_id", F.posexplode_outer("minhash").alias("band", "mh"))


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.minhash_dedup_pairs(documents(spark, sf_dir), threshold=JACCARD_T)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.simhash(documents(spark, sf_dir))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.simhash_pairs(documents(spark, sf_dir), max_hamming=SIMHASH_MAX_HAM)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_counts(documents(spark, sf_dir))


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.quality_score(documents(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        F.round("quality", 6).alias("quality"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.lang_id(documents(spark, sf_dir))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(documents(spark, sf_dir))


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.pmod("vec_id", F.lit(ANN_QMOD)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ann.brute_force_topk(emb, queries, k=ANN_K)
    return out.select(
        "qid", "vec_id", F.round("cos", 6).alias("cos"), F.col("rank").cast("int").alias("rank")
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (posting-list join) at
    threshold 0.5 — the non-approximate dedup lane next to minhash/
    simhash; the oracle replays the identical shingle-hash posting join
    in DuckDB, so the hash pins every pair AND every jaccard value."""
    return tx.ngram_jaccard_pairs(documents(spark, sf_dir), threshold=0.5)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup story: exact n-gram Jaccard pairs ->
    distributed connected components (hash-to-min label propagation,
    operators/graph.py) -> one canonical doc per near-dup cluster,
    every doc labeled (cluster_id = min doc_id in component,
    is_canonical). The oracle recomputes the same pairs and resolves
    components with a recursive-CTE transitive closure — a hash match
    certifies the CC fixpoint itself, not just the pair list. Keep
    ``is_canonical`` rows and the corpus is near-dup-free."""
    docs = documents(spark, sf_dir)
    pairs = tx.ngram_jaccard_pairs(docs, threshold=0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return tx.dedup_clusters(docs, pairs)


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the ANN-serving memory
    trick): per-vector scale = max|x|/127, codes round(x*127/max|x|).
    Pure JVM projection over the embeddings table; the oracle replays
    the identical double arithmetic (float32 -> double promotion is
    exact, round-half-away matches), so a hash match pins every code
    of every vector. Emits the code array plus its L1 mass so both the
    values and the layout are covered."""
    emb = load(spark, sf_dir, "embeddings")
    q = ann.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.aggregate("q", F.lit(0), lambda a, v: a + F.abs(v)).alias("l1"),
        F.concat_ws(",", F.transform("q", lambda v: v.cast("string")))
            .alias("codes"),
    )


def q_split_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test hash split (98/1/1): portable
    60-bit md5 bucket mod 100 — stable under re-runs, re-partitioning
    and corpus growth, the property a reproducible training pipeline
    needs (random splits migrate docs between runs). Pure projection,
    zero shuffles; the oracle replays the identical hash arithmetic."""
    return tx.split_corpus(documents(spark, sf_dir))


def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency vocabulary (tokenizer-training precursor): global
    token counts -> top-100 tokens with deterministic dense ids
    (count DESC, token ASC total order). The oracle replays the same
    count + rank, pinning ids, tokens AND counts."""
    return tx.build_vocab(documents(spark, sf_dir), top_k=100)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (concat-and-chunk, the GPT-pretraining
    shape): docs laid end-to-end in doc_id order and cut into 512-token
    bins, one row per (doc, bin) span — zero wasted context, docs may
    straddle boundaries. One JVM window cumsum + a sequence explode;
    the oracle replays the identical arithmetic, so a hash match pins
    every bin id, offset and span length."""
    out = tx.pack_sequences(documents(spark, sf_dir), max_tokens=512)
    return out.select("doc_id", "bin_id", "bin_offset", "span_len",
                      "n_tokens")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII/link scrubbing: URLs -> <URL>, e-mails ->
    <EMAIL>, long digit runs -> <NUM>, as chained JVM regexp_replace
    (whole-stage codegen, zero Python). The fixture text carries no
    PII, so the query plants a deterministic e-mail + URL + long id per
    doc (same concat in the oracle) and the oracle replays the scrub
    with RE2 patterns restricted to the Java/RE2 shared dialect — the
    hash pins every replacement span and both match counts."""
    docs = documents(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id"),
            F.lit("@mail.example.com or https://w"), F.col("doc_id"),
            F.lit(".example/p?q=1 ref "),
            (F.col("doc_id") * 137 + 123456789).cast("string"),
        ),
    )
    return tx.pii_scrub(docs)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.synth_media(documents(spark, sf_dir))
    return m.select(
        "doc_id",
        "media_ref",
        F.length("payload").cast("long").alias("n_bytes"),
        F.col("meta.kind").alias("kind"),
    )


QUERIES = {
    "exact_dedup": q_exact_dedup,
    "minhash_sig": q_minhash_sig,
    "minhash_pairs": q_minhash_pairs,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "token_stats": q_token_stats,
    "quality": q_quality,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "ngram_jaccard": q_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "ann_topk": q_ann_topk,
    "pack_sequences": q_pack_sequences,
    "split_corpus": q_split_corpus,
    "build_vocab": q_build_vocab,
    "quantize_embeddings": q_quantize_embeddings,
    "pii_scrub": q_pii_scrub,
    "media_meta": q_media_meta,
}


# ------------------------------------------------------------- oracle SQL

_TOKS_CTE = "toks AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents)"

_HS_CTE = (
    "hs AS (SELECT doc_id, list_transform(tk, t -> "
    + H60("t")
    + f" % {tx.H60_REDUCE}) AS h FROM toks)"
)

_SIG_ITEMS = ", ".join(
    f"list_min(list_transform(h, v -> (v * {a} + {b}) % {tx.H60_P}))"
    for a, b in tx.MINHASH_COEFFS
)
_SIG_CTE = f"sig AS (SELECT doc_id, [{_SIG_ITEMS}] AS mh FROM hs)"

_SIMHASH_SUMS = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(tx.SIMHASH_BITS)
)
_SIMHASH_PACK = " + ".join(
    f"(CASE WHEN s{b} >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {b})"
    for b in range(tx.SIMHASH_BITS)
)
_SIMHASH_CTES = f"""
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tokn FROM documents),
th AS (SELECT doc_id, {H60("tokn")} AS h FROM tok),
g AS (SELECT doc_id, {_SIMHASH_SUMS} FROM th GROUP BY doc_id),
s AS (SELECT doc_id, {_SIMHASH_PACK} AS simhash FROM g)"""

_EN_STOP = "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS["en"]) + "]"


def _lang_case() -> str:
    scores = {
        lang: f"len(list_intersect(tk, ["
        + ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
        + "]))"
        for lang in tx.LANG_PRIORITY
    }
    whens = []
    for lang in tx.LANG_PRIORITY:
        conds = []
        for other in tx.LANG_PRIORITY:
            if other == lang:
                continue
            op = ">=" if tx.LANG_PRIORITY.index(other) > tx.LANG_PRIORITY.index(lang) else ">"
            conds.append(f"{scores[lang]} {op} {scores[other]}")
        whens.append("WHEN " + " AND ".join(conds) + f" THEN '{lang}'")
    return "CASE " + " ".join(whens) + f" ELSE '{tx.LANG_PRIORITY[0]}' END"


ORACLE_SQL = {
    "exact_dedup": """
SELECT doc_id, md5(text) AS content_hash FROM documents
QUALIFY row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) = 1
""",
    "minhash_sig": f"""
WITH {_TOKS_CTE},
{_HS_CTE},
{_SIG_CTE}
SELECT doc_id, CAST(i - 1 AS INT) AS band, mh[i] AS mh
FROM sig, range(1, {len(tx.MINHASH_COEFFS) + 1}) t(i)
""",
    "minhash_pairs": f"""
WITH {_TOKS_CTE},
{_HS_CTE},
{_SIG_CTE},
b AS (SELECT doc_id, i AS band, mh[i] AS key
      FROM sig, range(1, {len(tx.MINHASH_COEFFS) + 1}) t(i)),
cand AS (SELECT l.doc_id AS a, r.doc_id AS b
         FROM b l JOIN b r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         GROUP BY 1, 2),
hset AS (SELECT doc_id, list_distinct(h) AS th FROM hs),
j AS (SELECT c.a, c.b,
             CAST(len(list_intersect(ta.th, tb.th)) AS DOUBLE) AS inter,
             CAST(len(ta.th) + len(tb.th) AS DOUBLE) AS tot
      FROM cand c JOIN hset ta ON c.a = ta.doc_id JOIN hset tb ON c.b = tb.doc_id)
SELECT a, b, round(inter / (tot - inter), 6) AS jaccard
FROM j WHERE inter / (tot - inter) >= {JACCARD_T!r}
""",
    "simhash": f"""
WITH {_SIMHASH_CTES.lstrip()}
SELECT doc_id, simhash FROM s
""",
    "simhash_pairs": f"""
WITH {_SIMHASH_CTES.lstrip()},
bands AS (SELECT doc_id, simhash, t.i AS band, (simhash >> (t.i * 8)) & 255 AS key
          FROM s, range(0, 4) t(i)),
cand AS (SELECT l.doc_id AS a, r.doc_id AS b, l.simhash AS ha, r.simhash AS hb
         FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         GROUP BY 1, 2, 3, 4)
SELECT a, b, bit_count(xor(ha, hb)) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAM}
""",
    "token_stats": f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{tx.BPE_PAT}')) AS INT) AS n_bpe_tokens,
       CAST(length(text) AS INT) AS n_chars_
FROM documents
""",
    "quality": f"""
WITH q AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{tx.PUNCT_PAT}')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS punct_ratio,
         CAST(len(list_filter(string_split(text, ' '),
                              t -> list_contains({_EN_STOP}, t))) AS DOUBLE)
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
  FROM documents)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
       round(0.4 * least(n_tokens / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
             + 0.3 * stopword_ratio, 6) AS quality
FROM q
""",
    "lang_id": f"""
WITH {_TOKS_CTE}
SELECT doc_id, {_lang_case()} AS pred_lang FROM toks
""",
    "fingerprint": f"""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n FROM documents),
sh AS (SELECT doc_id, text,
              list_transform(range(1, greatest(n - 2, 1) + 1),
                i -> concat_ws(' ', tk[i], tk[least(i + 1, n)], tk[least(i + 2, n)])) AS sg
       FROM t)
SELECT doc_id, md5(text) AS content_md5,
       list_min(list_transform(sg, s -> {H60("s")})) AS min_shingle_hash
FROM sh
""",
    "ngram_jaccard": f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(n - 2, 1) + 1),
           i -> {H60("concat_ws(' ', tk[i], tk[least(i + 1, n)], tk[least(i + 2, n)])")}
       )) AS hs FROM t),
posts AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM sh),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb,
             count(*) AS n_shared
      FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY ALL)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(n_shared AS DOUBLE) / CAST(sa + sb - n_shared AS DOUBLE) AS jaccard
FROM p
WHERE CAST(n_shared AS DOUBLE) / CAST(sa + sb - n_shared AS DOUBLE) >= 0.5
""",
    "ann_topk": f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id % {ANN_QMOD} = 0),
p AS (SELECT q.qid, n.vec_id,
             list_sum(list_transform(range(1, {ann.DIM + 1}), i -> qv[i] * v[i]))
               / (sqrt(qn) * sqrt(nrm)) AS cosr
      FROM q CROSS JOIN n WHERE q.qid <> n.vec_id),
r AS (SELECT qid, vec_id, cosr,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, vec_id) AS INT)
               AS rank
      FROM p)
SELECT qid, vec_id, round(cosr, 6) AS cos, rank FROM r WHERE rank <= {ANN_K}
""",
    "media_meta": """
SELECT doc_id,
       'm://' || CAST(doc_id AS VARCHAR) AS media_ref,
       CAST(octet_length(unhex(repeat(md5('m://' || CAST(doc_id AS VARCHAR)),
                                      CAST(doc_id % 7 + 1 AS INT)))) AS BIGINT) AS n_bytes,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind
FROM documents
""",
}


EMB_NEARDUP_T = 0.2


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB ANN path (band-bucket join + exact re-rank) under the
    SAME deterministic hyperplanes as the SQL oracle — approximate by
    design vs brute force, exact vs its own contract."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.pmod("vec_id", F.lit(ANN_QMOD)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ann.lsh_topk(emb, queries, k=ANN_K)
    return out.select(
        "qid", "vec_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    out = ann.embedding_near_dup_pairs(emb, threshold=EMB_NEARDUP_T)
    return out.select("a", "b", F.round("cos", 6).alias("cos"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second 100-TB ANN path: IVF coarse quantizer (deterministic
    distributed k-means, IVF_LISTS=16, IVF_ITERS=2 Lloyd rounds with 6-dp
    centroid rounding) + cluster equi-join probe (IVF_PROBE=4) + exact
    re-rank. The oracle unrolls the same two Lloyd iterations in SQL."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.pmod("vec_id", F.lit(ANN_QMOD)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ann.ivf_topk(emb, queries, k=ANN_K)
    return out.select(
        "qid", "vec_id", F.round("cos", 6).alias("cos"),
        F.col("rank").cast("int").alias("rank"),
    )


QUERIES["lsh_topk"] = q_lsh_topk
QUERIES["embed_near_dup"] = q_embed_near_dup
QUERIES["ivf_topk"] = q_ivf_topk


def _sig_sql(v: str) -> str:
    """The Spark lsh_signature as SQL: same deterministic planes inlined
    as literals, same left-fold dot, same >=0 sign rule."""
    terms = []
    for pnum, plane in enumerate(ann._hyperplanes()):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        d = f"list_sum(list_transform(range(1, {ann.DIM + 1}), i -> {v}[i] * {arr}[i]))"
        terms.append(
            f"(CASE WHEN {d} >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << {pnum})"
        )
    return " + ".join(terms)


_BITS_PER_BAND = ann.LSH_BITS // ann.LSH_BANDS
_BAND_MASK = (1 << _BITS_PER_BAND) - 1

_SIG_CTES = f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e),
s AS (SELECT vec_id, v, nrm, {_sig_sql('v')} AS sig FROM n),
bands AS (SELECT vec_id, v, nrm, i,
                 (sig >> (i * {_BITS_PER_BAND})) & {_BAND_MASK} AS bk
          FROM s, range(0, {ann.LSH_BANDS}) t(i))"""

ORACLE_SQL["lsh_topk"] = f"""
WITH {_SIG_CTES},
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, i, bk FROM bands
      WHERE vec_id % {ANN_QMOD} = 0),
cand AS (SELECT DISTINCT q.qid, c.vec_id
         FROM q JOIN bands c ON q.i = c.i AND q.bk = c.bk
         WHERE q.qid <> c.vec_id),
p AS (SELECT cand.qid, cand.vec_id,
             list_sum(list_transform(range(1, {ann.DIM + 1}),
                                     i -> qn.v[i] * cn.v[i]))
               / (sqrt(qn.nrm) * sqrt(cn.nrm)) AS cosr
      FROM cand JOIN n qn ON qn.vec_id = cand.qid
                JOIN n cn ON cn.vec_id = cand.vec_id),
r AS (SELECT qid, vec_id, cosr,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, vec_id)
                  AS INT) AS rank
      FROM p)
SELECT qid, vec_id, round(cosr, 6) AS cos, rank FROM r WHERE rank <= {ANN_K}
"""

ORACLE_SQL["embed_near_dup"] = f"""
WITH {_SIG_CTES},
cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         FROM bands l JOIN bands r ON l.i = r.i AND l.bk = r.bk
         WHERE l.vec_id < r.vec_id),
p AS (SELECT cand.a, cand.b,
             list_sum(list_transform(range(1, {ann.DIM + 1}),
                                     i -> an.v[i] * bn.v[i]))
               / (sqrt(an.nrm) * sqrt(bn.nrm)) AS cosr
      FROM cand JOIN n an ON an.vec_id = cand.a
                JOIN n bn ON bn.vec_id = cand.b)
SELECT a, b, round(cosr, 6) AS cos FROM p WHERE cosr >= {EMB_NEARDUP_T!r}
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched decode path (fake byte-stats decoder) — the
    mapInPandas plumbing now has a cross-engine oracle like everything
    else (the synthetic payload is hex-reconstructible in DuckDB)."""
    m = media.synth_media(documents(spark, sf_dir))
    out = media.decode_features(m, decoder="fake")
    return out.select(
        "doc_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round("mean_byte", 6).alias("mean_byte"),
        F.col("max_byte").cast("long").alias("max_byte"),
        F.round("entropy8", 6).alias("entropy8"),
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media.synth_media(documents(spark, sf_dir))
    out = media.frame_sample(m, every_n_bytes=16)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    )


def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL media decode lane end-to-end: deterministic 24-bit BMPs
    are encoded executor-side (pure numpy), ride a binary column through
    Arrow, and decode_image_features parses the actual BMP bytes back
    into per-channel means. The oracle recomputes the closed-form pixel
    field (id*7 + r*13 + c*29 + ch*57) % 256 in SQL — a hash match
    certifies the byte codec, not just the plumbing."""
    m = media.synth_bmp_media(documents(spark, sf_dir))
    out = media.decode_image_features(m)
    return out.select("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")


def q_media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL PNG decode lane end-to-end: deterministic RGB PNGs —
    scanline filter type doc_id % 5, so the corpus exercises every spec
    filter (None/Sub/Up/Average/Paeth) — are encoded executor-side
    (stdlib zlib + numpy, operators/png_codec.py), ride a binary column
    through Arrow, and decode_image_features inflates + un-filters the
    actual PNG bytes back into per-channel means. The oracle recomputes
    the closed-form pixel field (id*11 + r*17 + c*23 + ch*41) % 256 in
    SQL — a hash match certifies the byte codec (deflate framing, CRCs,
    filter reconstruction), not just the plumbing."""
    m = media.synth_png_media(documents(spark, sf_dir))
    out = media.decode_image_features(m)
    return out.select("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL JPEG decode lane end-to-end: flat grayscale baseline
    JPEGs (T.81 markers, Annex K tables at quality 90, Huffman entropy
    coding) are encoded executor-side, ride a binary column through
    Arrow, and decode_image_features Huffman-decodes + dequantizes +
    IDCTs the actual JPEG bytes back into per-channel means. Flat blocks
    make the lossy codec EXACTLY oracle-checkable: only the DC
    coefficient survives quantization, so the decoded constant is
    clamp(round(3*round(8*(v-128)/3)/8 + 128)) — recomputed verbatim in
    SQL (tie-free for all 256 v, verified exhaustively). The AC /
    colour / subsampling / restart paths are covered by
    tests/test_jpeg_codec.py with error-bound laws."""
    m = media.synth_jpeg_media(documents(spark, sf_dir))
    out = media.decode_image_features(m)
    return out.select("doc_id", "width", "height", "mean_r", "mean_g", "mean_b")


def q_media_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL animated-frame lane end-to-end: deterministic animated
    GIFs (1-3 frames, odd ids interlaced, 256-entry closed-form
    palette) are encoded executor-side (operators/gif_codec.py), ride a
    binary column through Arrow, and decode_gif_frames LZW-decodes +
    deinterlaces + palette-expands the actual GIF bytes back into one
    row per composited frame. The oracle recomputes the per-frame
    channel means through the palette indirection — index
    (id*13 + f*7 + r*19 + c*31) % 256 over pal[i] = ((i*5+3)%256,
    (i*11+7)%256, (i*17+29)%256) — in SQL, so a hash match certifies
    the byte codec (LZW variable-width codes, sub-block framing,
    interlace scatter), not just the plumbing. Transparency/disposal
    compositing and external-file interop are covered by
    tests/test_gif_codec.py."""
    m = media.synth_gif_media(documents(spark, sf_dir))
    out = media.decode_gif_frames(m)
    return out.select("doc_id", "frame_idx", "width", "height",
                      "delay_cs", "mean_r", "mean_g", "mean_b")


def q_media_decode_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL video-container lane end-to-end: deterministic MJPEG
    AVIs (RIFF hdrl/movi/idx1, one flat grayscale baseline JPEG per
    frame) are encoded executor-side (operators/avi_codec.py), ride a
    binary column through Arrow, and decode_video_frames walks the
    container and Huffman-decodes + IDCTs every frame back into one row
    per frame. Flat frames make the lossy frame codec EXACTLY
    oracle-checkable (the media_decode_jpeg closed form per frame), so
    a hash match certifies the container walk AND the frame codec.
    Non-flat frames, rec-list nesting and codec rejection are covered
    by tests/test_avi_codec.py."""
    m = media.synth_avi_media(documents(spark, sf_dir))
    out = media.decode_video_frames(m)
    return out.select("doc_id", "frame_idx", "width", "height", "fps",
                      "mean_r", "mean_g", "mean_b")


def q_media_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL audio decode lane end-to-end: deterministic PCM-16 WAVs
    are encoded executor-side (pure struct/numpy), ride a binary column
    through Arrow, and decode_audio_features walks the RIFF chunks back
    into per-clip features. The oracle recomputes the closed-form sample
    field ((id*31 + i*17 + c*101) % 65536) - 32768 in SQL — a hash match
    certifies the byte codec, not just the plumbing."""
    m = media.synth_wav_media(documents(spark, sf_dir))
    out = media.decode_audio_features(m)
    return out.select("doc_id", "sample_rate", "channels", "n_samples",
                      "mean_sample", "peak")


QUERIES["media_features"] = q_media_features
QUERIES["frame_sample"] = q_frame_sample
QUERIES["media_decode_real"] = q_media_decode_real
QUERIES["media_decode_png"] = q_media_decode_png
QUERIES["media_decode_jpeg"] = q_media_decode_jpeg
QUERIES["media_decode_gif"] = q_media_decode_gif
def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal sampling over the REAL video container lane: every 2nd
    frame of each MJPEG-AVI (frame 0 always kept), decoded through the
    container walk + JPEG codec. The oracle is the media_decode_avi
    closed form filtered to even frame indices, so a hash match
    certifies the sampler keeps exactly the right frames with exactly
    the decoded values."""
    m = media.synth_avi_media(documents(spark, sf_dir))
    out = media.sample_video_frames(m, stride=2)
    return out.select("doc_id", "frame_idx", "width", "height", "fps",
                      "mean_r", "mean_g", "mean_b")


QUERIES["media_decode_avi"] = q_media_decode_avi
QUERIES["video_frame_sample"] = q_video_frame_sample
def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data audio QUALITY lane: RMS energy, channel-0 zero
    crossings, silence ratio and clip ratio over the decoded WAV clips
    — the filters an audio corpus pipeline actually gates on. Every
    stat is an exact integer count/sum divided once, so the oracle
    recomputes them bit-identically from the closed-form sample field
    (zero crossings via a lag window over the ordered frame index)."""
    m = media.synth_wav_media(documents(spark, sf_dir))
    return media.audio_stats(m).select(
        "doc_id", "rms_energy", "zero_crossings", "silence_ratio",
        "clip_ratio")


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data image QUALITY lane: brightness, contrast
    (variance) and horizontal edge energy over the real BMP decode —
    the blank-/flat-/blurred-image filters an image corpus gates on.
    All three are exact integer sums with one double division (contrast
    = E[v^2] - E[v]^2 on those exact quotients), so the oracle
    recomputes them bit-identically from the closed-form pixel field."""
    m = media.synth_bmp_media(documents(spark, sf_dir))
    return media.image_stats(m).select(
        "doc_id", "brightness", "contrast", "edge_energy")


QUERIES["image_stats"] = q_image_stats
QUERIES["audio_stats"] = q_audio_stats
QUERIES["media_decode_wav"] = q_media_decode_wav

# payload bytes are reconstructible from the md5 hex string: byte i is
# hex chars [2i+1, 2i+2] of repeat(md5(ref), k); max k = 7 -> 112 bytes
_MEDIA_BYTES_CTES = """
m AS (SELECT doc_id,
             repeat(md5('m://' || CAST(doc_id AS VARCHAR)),
                    CAST(doc_id % 7 + 1 AS INT)) AS hx
      FROM documents),
b AS (SELECT m.doc_id,
             CAST('0x' || substr(m.hx, CAST(2 * g.i + 1 AS INT), 2) AS INT) AS byte
      FROM m, range(0, 112) g(i)
      WHERE g.i < length(m.hx) // 2)"""

ORACLE_SQL["media_features"] = f"""
WITH {_MEDIA_BYTES_CTES},
s AS (SELECT doc_id, count(*) AS n_bytes, avg(byte) AS mean_byte,
             max(byte) AS max_byte
      FROM b GROUP BY doc_id),
h AS (SELECT doc_id, byte // 32 AS bin, count(*) AS c FROM b GROUP BY doc_id, bin),
t AS (SELECT doc_id, sum(c) AS n FROM h GROUP BY doc_id),
e AS (SELECT h.doc_id,
             -sum((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)) AS entropy8
      FROM h JOIN t USING (doc_id) GROUP BY h.doc_id)
SELECT s.doc_id, CAST(s.n_bytes AS BIGINT) AS n_bytes,
       round(s.mean_byte, 6) AS mean_byte,
       CAST(s.max_byte AS BIGINT) AS max_byte,
       round(e.entropy8, 6) AS entropy8
FROM s JOIN e USING (doc_id)
"""

ORACLE_SQL["frame_sample"] = """
WITH m AS (SELECT doc_id,
                  repeat(md5('m://' || CAST(doc_id AS VARCHAR)),
                         CAST(doc_id % 7 + 1 AS INT)) AS hx
           FROM documents)
SELECT m.doc_id, CAST(g.i AS BIGINT) AS frame_idx,
       substr(m.hx, CAST(32 * g.i + 1 AS INT), 32) AS frame_hex
FROM m, range(0, 7) g(i)
WHERE g.i < length(m.hx) // 32
"""

# closed-form pixel field of synth_png_media (filter type doc_id % 5
# on the encode side, invisible to the oracle because decode must undo
# it exactly); sums are exact small integers so the means are
# bit-identical across engines
ORACLE_SQL["media_decode_png"] = """
WITH d AS (SELECT doc_id,
                  2 + doc_id % 6 AS w,
                  2 + doc_id % 4 AS h
           FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id * 11 + r.r * 17 + c.c * 23) % 256 AS pr,
         (d.doc_id * 11 + r.r * 17 + c.c * 23 + 41) % 256 AS pg,
         (d.doc_id * 11 + r.r * 17 + c.c * 23 + 82) % 256 AS pb
  FROM d, range(0, 8) r(r), range(0, 8) c(c)
  WHERE r.r < d.h AND c.c < d.w)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum(pr) AS DOUBLE) / count(*) AS mean_r,
       CAST(sum(pg) AS DOUBLE) / count(*) AS mean_g,
       CAST(sum(pb) AS DOUBLE) / count(*) AS mean_b
FROM px GROUP BY doc_id, w, h
"""

# flat-gray JPEG closed form (synth_jpeg_media): the decoded constant is
# the DC quantize/dequantize chain; qDC = 3 at quality 90, round is
# tie-free for every v in 0..255 (verified exhaustively against exact
# rational arithmetic), so half-even vs half-away cannot diverge
ORACLE_SQL["media_decode_jpeg"] = """
WITH d AS (SELECT doc_id,
                  3 + doc_id % 6 AS w,
                  2 + doc_id % 5 AS h,
                  (doc_id * 37 + 11) % 256 AS v
           FROM documents),
k AS (SELECT *, round(8.0 * (v - 128) / 3) AS kq FROM d)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_r,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_g,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_b
FROM k
"""

# per-frame closed form of synth_gif_media: palette index
# (id*13 + f*7 + r*19 + c*31) % 256 expanded through the closed-form
# palette; integer sums are exact so the DOUBLE means are bit-identical
ORACLE_SQL["media_decode_gif"] = """
WITH d AS (SELECT doc_id,
                  2 + doc_id % 5 AS w,
                  2 + doc_id % 4 AS h,
                  1 + doc_id % 3 AS nf,
                  CAST(doc_id % 10 AS INTEGER) AS delay_cs
           FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h, d.delay_cs, f.f,
         (d.doc_id * 13 + f.f * 7 + r.r * 19 + c.c * 31) % 256 AS i
  FROM d, range(0, 3) f(f), range(0, 8) r(r), range(0, 8) c(c)
  WHERE f.f < d.nf AND r.r < d.h AND c.c < d.w)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       delay_cs,
       CAST(sum((i * 5 + 3) % 256) AS DOUBLE) / count(*) AS mean_r,
       CAST(sum((i * 11 + 7) % 256) AS DOUBLE) / count(*) AS mean_g,
       CAST(sum((i * 17 + 29) % 256) AS DOUBLE) / count(*) AS mean_b
FROM px GROUP BY doc_id, f, w, h, delay_cs
"""

# per-frame flat-gray closed form of synth_avi_media: the
# media_decode_jpeg DC chain per frame (qDC = 3 at quality 90,
# tie-free round, see that row), plus container-carried fps
ORACLE_SQL["media_decode_avi"] = """
WITH d AS (SELECT doc_id,
                  3 + doc_id % 6 AS w,
                  2 + doc_id % 5 AS h,
                  1 + doc_id % 3 AS nf,
                  CAST(5 + doc_id % 10 AS DOUBLE) AS fps
           FROM documents),
fr AS (SELECT d.*, f.f, (d.doc_id * 37 + f.f * 53 + 11) % 256 AS v
       FROM d, range(0, 3) f(f) WHERE f.f < d.nf),
k AS (SELECT *, round(8.0 * (v - 128) / 3) AS kq FROM fr)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       fps,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_r,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_g,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_b
FROM k
"""

ORACLE_SQL["video_frame_sample"] = """
SELECT * FROM (WITH d AS (SELECT doc_id,
                  3 + doc_id % 6 AS w,
                  2 + doc_id % 5 AS h,
                  1 + doc_id % 3 AS nf,
                  CAST(5 + doc_id % 10 AS DOUBLE) AS fps
           FROM documents),
fr AS (SELECT d.*, f.f, (d.doc_id * 37 + f.f * 53 + 11) % 256 AS v
       FROM d, range(0, 3) f(f) WHERE f.f < d.nf),
k AS (SELECT *, round(8.0 * (v - 128) / 3) AS kq FROM fr)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       fps,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_r,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_g,
       CAST(least(255.0, greatest(0.0, round(3 * kq / 8 + 128))) AS DOUBLE) AS mean_b
FROM k
) WHERE frame_idx % 2 = 0
"""


# closed-form pixel field of synth_bmp_media, recomputed per channel;
# sums are exact small integers so AVG is bit-identical across engines
ORACLE_SQL["media_decode_real"] = """
WITH d AS (SELECT doc_id,
                  2 + doc_id % 6 AS w,
                  2 + doc_id % 4 AS h
           FROM documents),
px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id * 7 + r.r * 13 + c.c * 29) % 256 AS pr,
         (d.doc_id * 7 + r.r * 13 + c.c * 29 + 57) % 256 AS pg,
         (d.doc_id * 7 + r.r * 13 + c.c * 29 + 114) % 256 AS pb
  FROM d, range(0, 8) r(r), range(0, 8) c(c)
  WHERE r.r < d.h AND c.c < d.w)
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(sum(pr) AS DOUBLE) / count(*) AS mean_r,
       CAST(sum(pg) AS DOUBLE) / count(*) AS mean_g,
       CAST(sum(pb) AS DOUBLE) / count(*) AS mean_b
FROM px GROUP BY doc_id, w, h
"""

# closed-form sample field of synth_wav_media; integer sums are exact so
# the DOUBLE division is bit-identical across engines
ORACLE_SQL["media_decode_wav"] = """
WITH d AS (SELECT doc_id,
                  8 + doc_id % 16 AS n,
                  1 + doc_id % 2 AS ch,
                  8000 + (doc_id % 4) * 4000 AS rate
           FROM documents),
s AS (
  SELECT d.doc_id, d.n, d.ch, d.rate,
         (d.doc_id * 31 + i.i * 17 + c.c * 101) % 65536 - 32768 AS v
  FROM d, range(0, 24) i(i), range(0, 2) c(c)
  WHERE i.i < d.n AND c.c < d.ch)
SELECT doc_id,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS channels,
       CAST(n AS INTEGER) AS n_samples,
       CAST(sum(v) AS DOUBLE) / count(*) AS mean_sample,
       CAST(max(abs(v)) AS INTEGER) AS peak
FROM s GROUP BY doc_id, n, ch, rate
"""


# same ngram pair derivation, then component resolution by recursive-CTE
# transitive closure (UNION dedups, so the closure terminates); comp =
# min reachable id; docs in no pair are their own singleton cluster
ORACLE_SQL["dedup_clusters"] = f"""
WITH RECURSIVE
t AS (SELECT doc_id, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(n - 2, 1) + 1),
           i -> {H60("concat_ws(' ', tk[i], tk[least(i + 1, n)], tk[least(i + 2, n)])")}
       )) AS hs FROM t),
posts AS (SELECT doc_id, len(hs) AS sz, unnest(hs) AS h FROM sh),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sa, b.sz AS sb,
             count(*) AS n_shared
      FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY ALL),
pf AS (SELECT id_a, id_b FROM p
       WHERE CAST(n_shared AS DOUBLE) / CAST(sa + sb - n_shared AS DOUBLE)
             >= 0.5),
e AS (SELECT id_a AS a, id_b AS b FROM pf
      UNION ALL SELECT id_b, id_a FROM pf),
r AS (SELECT DISTINCT a, a AS b FROM e
      UNION
      SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
c AS (SELECT a AS node, min(b) AS comp FROM r GROUP BY a)
SELECT d.doc_id,
       COALESCE(c.comp, d.doc_id) AS cluster_id,
       COALESCE(c.comp, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN c ON d.doc_id = c.node
"""


ORACLE_SQL["quantize_embeddings"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
q AS (SELECT vec_id, amax / 127.0 AS scale,
             CASE WHEN amax = 0
                  THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(round(x * 127.0 / amax)
                                                   AS INT)) END AS qs
      FROM m)
SELECT vec_id, round(scale, 9) AS scale,
       CAST(list_sum(list_transform(qs, x -> abs(x))) AS INT) AS l1,
       array_to_string(qs, ',') AS codes
FROM q
"""

ORACLE_SQL["split_corpus"] = f"""
WITH b AS (SELECT doc_id,
                  {H60("'split-v1:' || CAST(doc_id AS VARCHAR)")} % 100
                    AS bucket
           FROM documents)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CASE WHEN bucket < 98 THEN 'train'
            WHEN bucket < 99 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""

ORACLE_SQL["build_vocab"] = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
r AS (SELECT token, n,
             row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
      FROM c)
SELECT CAST(token_id AS INT) AS token_id, token, CAST(n AS BIGINT) AS n
FROM r WHERE token_id < 100
"""

ORACLE_SQL["pack_sequences"] = """
WITH n AS (SELECT doc_id, len(string_split(text, ' ')) AS nt FROM documents),
c AS (SELECT doc_id, nt, sum(nt) OVER (ORDER BY doc_id) AS tok_end FROM n),
s AS (SELECT doc_id, nt, CAST(tok_end - nt AS BIGINT) AS tok_start,
             CAST(tok_end AS BIGINT) AS tok_end FROM c),
e AS (SELECT doc_id, nt, tok_start, tok_end,
             unnest(range(tok_start // 512, (tok_end - 1) // 512 + 1))
               AS bin_id
      FROM s)
SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id,
       CAST(greatest(tok_start, bin_id * 512) - bin_id * 512 AS INT)
         AS bin_offset,
       CAST(least(tok_end, (bin_id + 1) * 512)
            - greatest(tok_start, bin_id * 512) AS INT) AS span_len,
       CAST(nt AS INT) AS n_tokens
FROM e
"""


ORACLE_SQL["pii_scrub"] = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or https://w' || CAST(doc_id AS VARCHAR)
              || '.example/p?q=1 ref '
              || CAST(doc_id * 137 + 123456789 AS VARCHAR) AS t
  FROM documents)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{tx.PII_URL}', '<URL>', 'g'),
           '{tx.PII_EMAIL}', '<EMAIL>', 'g'),
         '{tx.PII_LONG_NUM}', '<NUM>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(t, '{tx.PII_URL}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(t, '{tx.PII_EMAIL}')) AS INT) AS n_emails
FROM aug
"""


# same closed-form pixel field as media_decode_real, per channel ch in
# 0..2 (offset ch*57); edge energy pairs columns c and c+1
ORACLE_SQL["image_stats"] = """
WITH d AS (SELECT doc_id,
                  2 + doc_id % 6 AS w,
                  2 + doc_id % 4 AS h
           FROM documents),
px AS (
  SELECT d.doc_id, d.w,
         (d.doc_id * 7 + r.r * 13 + c.c * 29 + ch.ch * 57) % 256 AS v,
         c.c, ch.ch
  FROM d, range(0, 8) r(r), range(0, 8) c(c), range(0, 3) ch(ch)
  WHERE r.r < d.h AND c.c < d.w),
base AS (
  SELECT doc_id,
         CAST(sum(v) AS DOUBLE) / count(*) AS m,
         CAST(sum(v * v) AS DOUBLE) / count(*) AS e2
  FROM px GROUP BY doc_id),
dx AS (
  SELECT d.doc_id,
         abs(((d.doc_id * 7 + r.r * 13 + (c.c + 1) * 29 + ch.ch * 57) % 256)
           - ((d.doc_id * 7 + r.r * 13 + c.c * 29 + ch.ch * 57) % 256)) AS e
  FROM d, range(0, 8) r(r), range(0, 8) c(c), range(0, 3) ch(ch)
  WHERE r.r < d.h AND c.c < d.w - 1),
des AS (SELECT doc_id, CAST(sum(e) AS DOUBLE) / count(*) AS edge_energy
        FROM dx GROUP BY doc_id)
SELECT b.doc_id, b.m AS brightness, b.e2 - b.m * b.m AS contrast,
       COALESCE(des.edge_energy, 0.0) AS edge_energy
FROM base b LEFT JOIN des ON b.doc_id = des.doc_id
"""


# same closed-form sample field; zero crossings = lag() sign changes on
# channel 0, silence/clip are exact counts over all channels
ORACLE_SQL["audio_stats"] = """
WITH d AS (SELECT doc_id,
                  8 + doc_id % 16 AS n,
                  1 + doc_id % 2 AS ch
           FROM documents),
s AS (
  SELECT d.doc_id, d.n, d.ch, i.i, c.c,
         (d.doc_id * 31 + i.i * 17 + c.c * 101) % 65536 - 32768 AS v
  FROM d, range(0, 24) i(i), range(0, 2) c(c)
  WHERE i.i < d.n AND c.c < d.ch),
z AS (
  SELECT doc_id,
         CASE WHEN (v >= 0) <> lag(v >= 0) OVER (
             PARTITION BY doc_id ORDER BY i) THEN 1 ELSE 0 END AS zc
  FROM s WHERE c = 0),
zs AS (SELECT doc_id, sum(zc) AS zcs FROM z GROUP BY doc_id)
SELECT s.doc_id,
       CAST(sum(v * v) AS DOUBLE) / count(*) AS rms_energy,
       CAST(any_value(zs.zcs) AS INTEGER) AS zero_crossings,
       CAST(sum(CASE WHEN abs(v) < 1024 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS silence_ratio,
       CAST(sum(CASE WHEN abs(v) >= 32256 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS clip_ratio
FROM s JOIN zs ON s.doc_id = zs.doc_id
GROUP BY s.doc_id
"""


def _ivf_oracle() -> str:
    """Unrolled 2-iteration Lloyd + probe, mirroring operators.ann.ivf_*
    expression-for-expression (same init, same 6-dp centroid rounding,
    same (d2, cl) tie order, same cosine shape as ann_topk)."""
    import whitebox_tools_spark.operators.ann as _a

    DIM1 = _a.DIM + 1
    d2 = lambda vv, cc: (
        f"list_sum(list_transform(range(1, {DIM1}), "
        f"i -> ({vv}[i] - {cc}[i]) * ({vv}[i] - {cc}[i])))"
    )
    it = """
d{J} AS (SELECT e.vec_id, c.cl, {D2} AS d2 FROM e CROSS JOIN c{I} c),
a{J} AS (SELECT vec_id, cl FROM (
           SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
           FROM d{J}) WHERE rn = 1),
m{J} AS (SELECT a{J}.cl, i, round(avg(e.v[i]), 6) AS m
         FROM a{J} JOIN e USING (vec_id) CROSS JOIN range(1, {DIM1}) t(i)
         GROUP BY a{J}.cl, i),
c{J} AS (SELECT cl, list(m ORDER BY i) AS cent FROM m{J} GROUP BY cl)"""
    iters = "".join(
        "," + it.format(J=j + 1, I=j, DIM1=DIM1, D2=d2("e.v", "c.cent"))
        for j in range(_a.IVF_ITERS)
    )
    fin = _a.IVF_ITERS
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS nrm FROM e),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, v AS cent
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {_a.IVF_LISTS})){iters},
df AS (SELECT e.vec_id, c.cl, {d2("e.v", "c.cent")} AS d2 FROM e CROSS JOIN c{fin} c),
af AS (SELECT vec_id, cl FROM (
         SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         FROM df) WHERE rn = 1),
q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id % {ANN_QMOD} = 0),
pd AS (SELECT q.qid, c.cl, {d2("q.qv", "c.cent")} AS d2 FROM q CROSS JOIN c{fin} c),
probe AS (SELECT qid, cl FROM (
            SELECT qid, cl, row_number() OVER (PARTITION BY qid ORDER BY d2, cl) AS rn
            FROM pd) WHERE rn <= {_a.IVF_PROBE}),
cand AS (SELECT probe.qid, af.vec_id FROM probe JOIN af USING (cl)
         WHERE probe.qid <> af.vec_id),
p AS (SELECT cand.qid, cand.vec_id,
             list_sum(list_transform(range(1, {DIM1}), i -> qn.v[i] * cn.v[i]))
               / (sqrt(qn.nrm) * sqrt(cn.nrm)) AS cosr
      FROM cand JOIN n qn ON qn.vec_id = cand.qid
                JOIN n cn ON cn.vec_id = cand.vec_id),
r AS (SELECT qid, vec_id, cosr,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY cosr DESC, vec_id)
                  AS INT) AS rank
      FROM p)
SELECT qid, vec_id, round(cosr, 6) AS cos, rank FROM r WHERE rank <= {ANN_K}
"""


ORACLE_SQL["ivf_topk"] = _ivf_oracle()


# ------------------------------------------------------- span invariant


def q_span_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule per-row invariant as a driver row: attach the
    deterministic interleaved span array to every document, push it
    THROUGH the PIP clip pipeline (sources/docs.py spans ride along the
    join), and emit the canonical offset-ordered (kind, text, media_ref)
    sequence string. The oracle rebuilds the same spans arithmetically in
    SQL over the clip predicate — a hash match means the engine preserved
    span kind/content/order for every surviving document."""
    from whitebox_tools_spark.operators.pip import clip_points
    from whitebox_tools_spark.sources import docs as docs_src
    from whitebox_tools_spark.sources import vectors as _v

    from whitebox_tools_spark import derive as _d

    geo = _d.with_geometry(documents(spark, sf_dir), "doc_id").withColumn(
        "spans", docs_src.spans_col(F.col("doc_id"))
    )
    clipped = clip_points(geo, _v.rect_layer(), "semi")
    return clipped.select(
        "doc_id", docs_src.span_flat("spans").alias("span_seq")
    )


QUERIES["span_invariant"] = q_span_invariant


def _span_invariant_oracle() -> str:
    from whitebox_tools_spark.sources import docs as docs_src
    from whitebox_tools_spark.sources import vectors as _v

    m31 = docs_src._M31
    a_ns, b_ns = docs_src._A_NS, docs_src._B_NS
    a_k, b_k = docs_src._A_KIND, docs_src._B_KIND
    mix = lambda e: f"((({e}) % {m31}) * {a_ns} + {b_ns}) % {m31}"
    mixk = lambda e: f"((({e}) % {m31}) * {a_k} + {b_k}) % {m31}"
    # span j of doc i, flattened as kind US coalesce(text) US coalesce(ref)
    piece = (
        f"CASE WHEN ({mixk('doc_id * 7 + j')}) % 3 = 0 "
        f"THEN 'media' || chr(31) || chr(0) || chr(31) || "
        f"     'm://' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR) "
        f"ELSE 'text' || chr(31) || "
        f"     't-' || CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR) || "
        f"     chr(31) || chr(0) END"
    )
    return f"""
WITH {{pts}},
keep AS (SELECT doc_id FROM pts WHERE {{pred}}),
flat AS (SELECT doc_id,
                array_to_string(
                  list_transform(range(0, CAST(({mix('doc_id')}) % 6 + 1 AS BIGINT)),
                                 j -> {piece}),
                  chr(30)) AS span_seq
         FROM keep)
SELECT doc_id, span_seq FROM flat
""".format(pts=_SPAN_PTS_CTE, pred=_v.rect_layer_sql_predicate())


from whitebox_tools_spark import derive as _derive  # noqa: E402

_SPAN_PTS_CTE = (
    f"pts AS (SELECT doc_id, {_derive.sql_geometry_select('doc_id')} FROM documents)"
)

ORACLE_SQL["span_invariant"] = _span_invariant_oracle()


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-token/dup-line
    fractions, top 2-/3-gram char fractions — Rae et al. 2021 §A1.1):
    the excessive-repetition filter of a training pipeline. Pure JVM
    higher-order projection, zero shuffles; counts are exact ints and
    each ratio divides once, so the oracle's doubles are bit-identical."""
    return tx.repetition_signals(documents(spark, sf_dir))


QUERIES["repetition_signals"] = q_repetition_signals

# grams mirror the engine's clamped construction (element_at least(i+j, n))
# so one-token docs yield the same degenerate "w w" gram in both engines
ORACLE_SQL["repetition_signals"] = """
WITH tok AS (
  SELECT doc_id, len(text) AS lt,
         string_split(text, ' ') AS tk,
         string_split(text, chr(10)) AS ln
  FROM documents),
base AS (
  SELECT doc_id, lt, len(tk) AS nt, tk,
         len(tk) - len(list_distinct(tk)) AS dupt,
         len(ln) AS nl,
         len(ln) - len(list_distinct(ln)) AS dupl
  FROM tok),
g2 AS (
  SELECT doc_id, tk[i] || ' ' || tk[least(i + 1, nt)] AS g
  FROM base, unnest(generate_series(1, greatest(nt - 1, 1))) AS t(i)),
c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
b2 AS (SELECT doc_id, max(c * len(g)) AS best FROM c2 GROUP BY doc_id),
g3 AS (
  SELECT doc_id, tk[i] || ' ' || tk[least(i + 1, nt)]
                       || ' ' || tk[least(i + 2, nt)] AS g
  FROM base, unnest(generate_series(1, greatest(nt - 2, 1))) AS t(i)),
c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
b3 AS (SELECT doc_id, max(c * len(g)) AS best FROM c3 GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.dupt AS DOUBLE) / CAST(b.nt AS DOUBLE) AS dup_token_frac,
       CAST(b.dupl AS DOUBLE) / CAST(b.nl AS DOUBLE) AS dup_line_frac,
       CAST(b2.best AS DOUBLE) / CAST(b.lt AS DOUBLE) AS top_2gram_char_frac,
       CAST(b3.best AS DOUBLE) / CAST(b.lt AS DOUBLE) AS top_3gram_char_frac
FROM base b JOIN b2 USING (doc_id) JOIN b3 USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (the pre-training leak filter): flag
    training docs sharing >= 2 distinct word 3-gram shingles with an
    eval set (here: the 20 lowest-id docs standing in as the
    benchmark). One broadcast equi-join on 60-bit shingle hashes — the
    corpus is scanned once, zero corpus-side shuffles before the
    per-pair count."""
    docs = documents(spark, sf_dir)
    bench = (docs.where(F.col("doc_id") < 20)
             .select(F.col("doc_id").alias("bench_id"), "text"))
    out = tx.decontaminate(docs, bench, min_shared=2)
    return out.select("doc_id", "bench_id",
                      F.col("n_shared").cast("long").alias("n_shared"))


QUERIES["decontaminate"] = q_decontaminate

ORACLE_SQL["decontaminate"] = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n FROM documents),
sh AS (SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(n - 2, 1) + 1),
           i -> {H60("concat_ws(' ', tk[i], tk[least(i + 1, n)], tk[least(i + 2, n)])")}
       )) AS hs FROM t),
posts AS (SELECT doc_id, unnest(hs) AS h FROM sh)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(b.doc_id AS BIGINT) AS bench_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM posts d JOIN posts b ON d.h = b.h AND b.doc_id < 20
GROUP BY ALL
HAVING count(*) >= 2
"""


# ---------------------------------------------------- relevance scoring

BM25_TERMS = ["spark", "join", "window", "vector"]


def q_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 + TF-IDF topicality scores against a fixed seed vocabulary
    (the quality/topicality filter of a training pipeline). Two corpus
    scans, one single-row reduce broadcast back, zero wide shuffles;
    6-dp rounding on both sides (the catalog_stats.py convention for
    transcendental lanes — idf is a natural log)."""
    out = tx.bm25_scores(documents(spark, sf_dir), BM25_TERMS)
    return out.select(
        "doc_id", "n_tokens",
        F.round("bm25", 6).alias("bm25"),
        F.round("tfidf", 6).alias("tfidf"),
    )


QUERIES["bm25_score"] = q_bm25_score


def _bm25_oracle(terms: list[str], k1: str = "1.2", b: str = "0.75") -> str:
    """Mirror of bm25_scores' exact double association order: every
    cast, parenthesis and left-to-right sum matches the Spark column
    expressions, so the pre-round doubles already agree to the ulp."""
    nt = len(terms)
    tf = ",\n     ".join(
        f"len(list_filter(tk, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(terms)
    )
    df = ",\n     ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(nt)
    )
    avgdl = "(CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))"

    def contrib(i: int) -> str:
        return (
            f"(ln((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5) + 1.0)"
            f" * (CAST(tf{i} AS DOUBLE) * ({k1} + 1.0))"
            f" / (CAST(tf{i} AS DOUBLE) + {k1} * ((1.0 - {b})"
            f" + {b} * (CAST(dl AS DOUBLE) / {avgdl}))))"
        )

    def tic(i: int) -> str:
        return (
            f"(CASE WHEN tf{i} > 0 THEN CAST(tf{i} AS DOUBLE)"
            f" * ln(CAST(n AS DOUBLE) / CAST(df{i} AS DOUBLE))"
            f" ELSE 0.0 END)"
        )

    bmsum, tisum = contrib(0), tic(0)
    for i in range(1, nt):
        bmsum = f"({bmsum} + {contrib(i)})"
        tisum = f"({tisum} + {tic(i)})"
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
per AS (SELECT doc_id, len(tk) AS dl,
     {tf}
  FROM t),
g AS (SELECT count(*) AS n, sum(dl) AS sdl,
     {df}
  FROM per)
SELECT doc_id, CAST(dl AS INT) AS n_tokens,
       round({bmsum}, 6) AS bm25,
       round({tisum}, 6) AS tfidf
FROM per, g
"""


ORACLE_SQL["bm25_score"] = _bm25_oracle(BM25_TERMS)


# ------------------------------------------- substring-level exact dedup

DUP_SPAN_K = 8


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated >=k-token spans (Lee et al. 2022 substring
    dedup) — positional shingle postings -> occurrence counts ->
    gaps-and-islands span merge. Exact integer output."""
    return tx.dup_spans(documents(spark, sf_dir), k=DUP_SPAN_K)


QUERIES["dup_spans"] = q_dup_spans

_K = DUP_SPAN_K
ORACLE_SQL["dup_spans"] = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n FROM documents),
sh AS (SELECT doc_id, i AS pos,
              {H60(f"array_to_string(tk[i:i + {_K - 1}], ' ')")} AS h
       FROM t, unnest(generate_series(1, n - {_K - 1})) u(i)
       WHERE n >= {_K}),
c AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
dup AS (SELECT doc_id, pos FROM sh JOIN c USING (h)),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        FROM dup)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_K - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_K - 1} - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_shingles
FROM isl GROUP BY doc_id, g
"""


# ------------------------------------------------------- BPE merge training


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer merge training (8 rounds). Genuinely iterative —
    each round's pair statistics depend on the previous segmentation —
    so this is the catalog's one rows-only row (the brief's documented
    exception); exactness vs an independent pure-Python BPE reference
    is pinned by tests/test_docs_ops.py::TestBpeTrain."""
    from pyspark.sql import types as T

    merges = tx.bpe_train(documents(spark, sf_dir), n_merges=8)
    schema = T.StructType([
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("left", T.StringType(), False),
        T.StructField("right", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ])
    return spark.createDataFrame(merges, schema)


QUERIES["bpe_train"] = q_bpe_train
ROWS_ONLY = {
    "bpe_train": "iterative merge training: each round's pair counts depend on the "
    "previous round's segmentation; pinned against a pure-Python BPE reference in "
    "tests/test_docs_ops.py::TestBpeTrain",
}


# ------------------------------------------------- product quantization


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third 100-TB ANN path (after lsh_topk / ivf_topk): product
    quantization with asymmetric-distance scoring — every corpus vector
    is m=8 4-bit codes, queries scan codes only (64x smaller than the
    raw vectors). The oracle unrolls the same two Lloyd rounds per
    subquantizer in SQL with the same 6-dp centroid rounding and the
    same sub_id-ordered distance fold, so ad2 matches to the bit."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.pmod("vec_id", F.lit(ANN_QMOD)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ann.pq_topk(emb, queries, k=ANN_K)
    return out.select(
        "qid", "vec_id", F.round("ad2", 6).alias("ad2"),
        F.col("rank").cast("int").alias("rank"),
    )


QUERIES["pq_topk"] = q_pq_topk


def _pq_oracle() -> str:
    """Unrolled PQ training + ADC, mirroring operators.ann.pq_*
    expression-for-expression (same seeds, 6-dp round per Lloyd round,
    (d2, cl) ties, sub_id-ordered list_sum distance fold)."""
    import whitebox_tools_spark.operators.ann as _a

    M, KS, IT = _a.PQ_M, _a.PQ_K, _a.PQ_ITERS
    SL = _a.DIM // M

    def d2(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {SL + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    it_tpl = """
d{J} AS (SELECT subs.vec_id, subs.sub_id, c.cl, {D2} AS d2
         FROM subs JOIN c{I} c USING (sub_id)),
a{J} AS (SELECT vec_id, sub_id, cl FROM (
           SELECT vec_id, sub_id, cl,
                  row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cl) AS rn
           FROM d{J}) WHERE rn = 1),
m{J} AS (SELECT a.sub_id, a.cl, i, round(avg(subs.sub[i]), 6) AS mu
         FROM a{J} a JOIN subs USING (vec_id, sub_id) CROSS JOIN range(1, {SL1}) t(i)
         GROUP BY a.sub_id, a.cl, i),
c{J} AS (SELECT sub_id, cl, list(mu ORDER BY i) AS cent FROM m{J} GROUP BY sub_id, cl)"""
    iters = "".join(
        "," + it_tpl.format(J=j + 1, I=j, SL1=SL + 1,
                            D2=d2("subs.sub", "c.cent"))
        for j in range(IT)
    )
    fin = IT
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
subs AS (SELECT vec_id, CAST(s AS INT) AS sub_id, v[s*{SL}+1 : s*{SL}+{SL}] AS sub
         FROM e CROSS JOIN range(0, {M}) t(s)),
seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, v
          FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {KS})),
c0 AS (SELECT CAST(s AS INT) AS sub_id, cl, v[s*{SL}+1 : s*{SL}+{SL}] AS cent
       FROM seeds CROSS JOIN range(0, {M}) t(s)){iters},
df AS (SELECT subs.vec_id, subs.sub_id, c.cl, {d2("subs.sub", "c.cent")} AS d2
       FROM subs JOIN c{fin} c USING (sub_id)),
af AS (SELECT vec_id, sub_id, cl FROM (
         SELECT vec_id, sub_id, cl,
                row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cl) AS rn
         FROM df) WHERE rn = 1),
q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QMOD} = 0),
qs AS (SELECT qid, CAST(s AS INT) AS sub_id, v[s*{SL}+1 : s*{SL}+{SL}] AS qsub
       FROM q CROSS JOIN range(0, {M}) t(s)),
dt AS (SELECT qs.qid, qs.sub_id, c.cl, {d2("qs.qsub", "c.cent")} AS d2
       FROM qs JOIN c{fin} c USING (sub_id)),
sc AS (SELECT dt.qid, af.vec_id,
              list_sum(list(dt.d2 ORDER BY dt.sub_id)) AS ad2
       FROM af JOIN dt ON af.sub_id = dt.sub_id AND af.cl = dt.cl
       WHERE dt.qid <> af.vec_id
       GROUP BY dt.qid, af.vec_id),
r AS (SELECT qid, vec_id, ad2,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS INT) AS rank
      FROM sc)
SELECT qid, vec_id, round(ad2, 6) AS ad2, rank FROM r WHERE rank <= {ANN_K}
"""


ORACLE_SQL["pq_topk"] = _pq_oracle()


# ------------------------------------------------- bigram LM quality score


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained add-one
    bigram LM (the KenLM stand-in). One bigram-count shuffle + one
    posting equi-join; the per-doc mean folds ln P in position order
    so the oracle matches pre-round to the bit; 6-dp rounding both
    sides (the transcendental-lane convention)."""
    out = tx.bigram_lm_scores(documents(spark, sf_dir))
    return out.select(
        "doc_id", "n_bigrams", F.round("avg_logp", 6).alias("avg_logp"))


QUERIES["bigram_lm"] = q_bigram_lm

ORACLE_SQL["bigram_lm"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n FROM documents),
posts AS (SELECT doc_id, i AS pos, tk[i] AS w1, tk[i+1] AS w2
          FROM t, unnest(generate_series(1, n - 1)) u(i) WHERE n >= 2),
bic AS (SELECT w1, w2, count(*) AS c FROM posts GROUP BY w1, w2),
pre AS (SELECT w1, sum(c) AS c1 FROM bic GROUP BY w1),
v AS (SELECT count(DISTINCT w) AS v FROM
        (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
sc AS (SELECT posts.doc_id, posts.pos,
              ln((CAST(c AS DOUBLE) + 1.0)
                 / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) AS logp
       FROM posts JOIN bic USING (w1, w2) JOIN pre USING (w1) CROSS JOIN v),
agg AS (SELECT doc_id, list_sum(list(logp ORDER BY pos)) AS s, count(*) AS nb
        FROM sc GROUP BY doc_id)
SELECT doc_id, CAST(nb AS INT) AS n_bigrams,
       round(s / CAST(nb AS DOUBLE), 6) AS avg_logp
FROM agg
"""


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-vector ANN architecture: IVF coarse lists
    prune the corpus to IVF_PROBE/IVF_LISTS, PQ codes score the
    survivors in the compressed domain. Composes the two audited
    building blocks verbatim; the oracle unrolls BOTH trainings
    (coarse k-means + per-subquantizer k-means) in one SQL."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.pmod("vec_id", F.lit(ANN_QMOD)) == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = ann.ivfpq_topk(emb, queries, k=ANN_K)
    return out.select(
        "qid", "vec_id", F.round("ad2", 6).alias("ad2"),
        F.col("rank").cast("int").alias("rank"),
    )


QUERIES["ivfpq_topk"] = q_ivfpq_topk


def _ivfpq_oracle() -> str:
    """Unrolled IVF-PQ: the _ivf_oracle coarse training (prefix v),
    the _pq_oracle subquantizer training (prefix p), probe-join
    candidates, sub_id-ordered ADC fold — mirroring ann.ivfpq_topk
    expression-for-expression."""
    import whitebox_tools_spark.operators.ann as _a

    DIM1 = _a.DIM + 1
    M, KS = _a.PQ_M, _a.PQ_K
    # separate unroll depths, matching ivfpq_topk's ivf_iters/pq_iters
    ITV, ITP = _a.IVF_ITERS, _a.PQ_ITERS
    SL = _a.DIM // M
    NL, NP = _a.IVF_LISTS, _a.IVF_PROBE

    def d2full(vv: str, cc: str) -> str:
        return (f"list_sum(list_transform(range(1, {DIM1}), "
                f"i -> ({vv}[i] - {cc}[i]) * ({vv}[i] - {cc}[i])))")

    def d2sub(a: str, b: str) -> str:
        return (f"list_sum(list_transform(range(1, {SL + 1}), "
                f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))")

    ivf_it = """
vd{J} AS (SELECT e.vec_id, c.cl, {D2} AS d2 FROM e CROSS JOIN vc{I} c),
va{J} AS (SELECT vec_id, cl FROM (
           SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
           FROM vd{J}) WHERE rn = 1),
vm{J} AS (SELECT va{J}.cl, i, round(avg(e.v[i]), 6) AS m
         FROM va{J} JOIN e USING (vec_id) CROSS JOIN range(1, {DIM1}) t(i)
         GROUP BY va{J}.cl, i),
vc{J} AS (SELECT cl, list(m ORDER BY i) AS cent FROM vm{J} GROUP BY cl)"""
    ivf_iters = "".join(
        "," + ivf_it.format(J=j + 1, I=j, DIM1=DIM1,
                            D2=d2full("e.v", "c.cent"))
        for j in range(ITV)
    )
    pq_it = """
pd{J} AS (SELECT subs.vec_id, subs.sub_id, c.cl, {D2} AS d2
         FROM subs JOIN pc{I} c USING (sub_id)),
pa{J} AS (SELECT vec_id, sub_id, cl FROM (
           SELECT vec_id, sub_id, cl,
                  row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cl) AS rn
           FROM pd{J}) WHERE rn = 1),
pm{J} AS (SELECT a.sub_id, a.cl, i, round(avg(subs.sub[i]), 6) AS mu
         FROM pa{J} a JOIN subs USING (vec_id, sub_id) CROSS JOIN range(1, {SL1}) t(i)
         GROUP BY a.sub_id, a.cl, i),
pc{J} AS (SELECT sub_id, cl, list(mu ORDER BY i) AS cent FROM pm{J} GROUP BY sub_id, cl)"""
    pq_iters = "".join(
        "," + pq_it.format(J=j + 1, I=j, SL1=SL + 1,
                           D2=d2sub("subs.sub", "c.cent"))
        for j in range(ITP)
    )
    finv, finp = ITV, ITP
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vc0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, v AS cent
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {NL})){ivf_iters},
vdf AS (SELECT e.vec_id, c.cl, {d2full("e.v", "c.cent")} AS d2 FROM e CROSS JOIN vc{finv} c),
vaf AS (SELECT vec_id, cl FROM (
         SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         FROM vdf) WHERE rn = 1),
subs AS (SELECT vec_id, CAST(s AS INT) AS sub_id, v[s*{SL}+1 : s*{SL}+{SL}] AS sub
         FROM e CROSS JOIN range(0, {M}) t(s)),
seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cl, v
          FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {KS})),
pc0 AS (SELECT CAST(s AS INT) AS sub_id, cl, v[s*{SL}+1 : s*{SL}+{SL}] AS cent
       FROM seeds CROSS JOIN range(0, {M}) t(s)){pq_iters},
pdf AS (SELECT subs.vec_id, subs.sub_id, c.cl, {d2sub("subs.sub", "c.cent")} AS d2
       FROM subs JOIN pc{finp} c USING (sub_id)),
paf AS (SELECT vec_id, sub_id, cl FROM (
         SELECT vec_id, sub_id, cl,
                row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY d2, cl) AS rn
         FROM pdf) WHERE rn = 1),
q AS (SELECT vec_id AS qid, v FROM e WHERE vec_id % {ANN_QMOD} = 0),
qpd AS (SELECT q.qid, c.cl, {d2full("q.v", "c.cent")} AS d2 FROM q CROSS JOIN vc{finv} c),
probe AS (SELECT qid, cl FROM (
            SELECT qid, cl, row_number() OVER (PARTITION BY qid ORDER BY d2, cl) AS rn
            FROM qpd) WHERE rn <= {NP}),
cand AS (SELECT probe.qid, vaf.vec_id FROM probe JOIN vaf USING (cl)
         WHERE probe.qid <> vaf.vec_id),
qs AS (SELECT qid, CAST(s AS INT) AS sub_id, v[s*{SL}+1 : s*{SL}+{SL}] AS qsub
       FROM q CROSS JOIN range(0, {M}) t(s)),
dt AS (SELECT qs.qid, qs.sub_id, c.cl, {d2sub("qs.qsub", "c.cent")} AS d2
       FROM qs JOIN pc{finp} c USING (sub_id)),
sc AS (SELECT cand.qid, cand.vec_id,
              list_sum(list(dt.d2 ORDER BY dt.sub_id)) AS ad2
       FROM cand JOIN paf ON paf.vec_id = cand.vec_id
                 JOIN dt ON dt.qid = cand.qid AND dt.sub_id = paf.sub_id AND dt.cl = paf.cl
       GROUP BY cand.qid, cand.vec_id),
r AS (SELECT qid, vec_id, ad2,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS INT) AS rank
      FROM sc)
SELECT qid, vec_id, round(ad2, 6) AS ad2, rank FROM r WHERE rank <= {ANN_K}
"""


ORACLE_SQL["ivfpq_topk"] = _ivfpq_oracle()


HEADLINE = (
    "exact_dedup", "minhash_pairs", "simhash_pairs", "token_stats", "quality", "lang_id",
    "ann_topk", "lsh_topk", "media_meta", "ivf_topk", "span_invariant",
    "media_decode_real", "media_decode_wav", "ngram_jaccard", "media_decode_png",
    "media_decode_jpeg", "media_decode_gif", "media_decode_avi", "audio_stats",
    "image_stats", "video_frame_sample", "pii_scrub", "dedup_clusters", "pack_sequences",
    "split_corpus", "build_vocab", "repetition_signals", "decontaminate",
    "quantize_embeddings", "bm25_score", "dup_spans", "bpe_train", "pq_topk", "bigram_lm",
    "ivfpq_topk",
)
