"""Text analysis + deduplication for large-scale training-data pipelines.

Not part of the reference toolbox (WhiteboxTools is geospatial-only) but a
first-class requirement of this engine: the 10^12-document table is a
training corpus, and these are the corpus ops. Everything is JVM-side
(split / transform / aggregate higher-order functions) so each op is a
narrow projection + at most one shuffle; each has an exact DuckDB oracle.

Portable hashing: h60(s) = first 15 hex chars of md5(s) as int64 — the
same value in Spark (conv), DuckDB (hex cast) and Python (hashlib), so
minhash/simhash signatures are bit-identical across engines.

Ops:
- exact_dedup: md5(text) group, keep min record id.
- minhash signatures (M permutations over distinct-token 60-bit hashes,
  (a*h + b) % P with P = 2^31-1-ish prime) + banded LSH candidate pairs +
  exact token-Jaccard verification (the classic MinHashLSH pipeline).
- simhash (32-bit): per-token hash bit votes, packed signature; hamming
  pairs via band join.
- token counting: whitespace tokens + a BPE-ish regex token count.
- quality scoring: length/punctuation/stopword components.
- language id: stopword-hit scoring over a small per-language lexicon.
- fingerprinting: content md5 + min-shingle-hash (winnowing-lite).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

H60_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime) — minhash modulus
H60_REDUCE = 1 << 30  # token hashes reduced below 2^30 so a*h stays in int64

# (a, b) pairs for the M=8 minhash permutations — fixed odd constants
MINHASH_COEFFS = [
    (1_664_525, 1_013_904_223),
    (22_695_477, 1),
    (134_775_813, 1_103_515_245),
    (214_013, 2_531_011),
    (69_069, 362_437),
    (75, 74),
    (1_103_515_245, 12_345),
    (48_271, 11),
]

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "pour", "dans", "que"],
    "de": ["der", "die", "und", "das", "ist", "ein", "eine", "zu", "mit", "von"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "para", "en", "que"],
}
LANG_PRIORITY = ["en", "fr", "de", "es"]  # tie order, first wins

BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"
PUNCT_PAT = "[^a-z0-9 ]"


def h60(c: Column) -> Column:
    """Portable 60-bit md5 hash (identical in Spark / DuckDB / Python)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


# ------------------------------------------------------------- exact dedup


def exact_dedup(docs: DataFrame, text: str = "text", record: str = "doc_id") -> DataFrame:
    """Keep the first record (min id) of each exact-content group."""
    from pyspark.sql import Window

    h = F.md5(F.col(text)).alias("content_hash")
    w = Window.partitionBy("content_hash").orderBy(record)
    return (
        docs.select(F.col(record), h)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ----------------------------------------------------------------- minhash


def token_hashes(text: Column) -> Column:
    """Distinct-token 60-bit hashes reduced below 2^30 (overflow-safe)."""
    return F.transform(distinct_tokens(text), lambda t: F.pmod(h60(t), F.lit(H60_REDUCE)))


def minhash_signature(text: Column) -> Column:
    """Array of M minhashes over the token-hash set."""
    hs = token_hashes(text)
    return F.array(
        *[
            F.array_min(
                F.transform(hs, lambda v: F.pmod(v * F.lit(a) + F.lit(b), F.lit(H60_P)))
            )
            for a, b in MINHASH_COEFFS
        ]
    )


def with_minhash(docs: DataFrame, text: str = "text") -> DataFrame:
    """Bind the token-hash array in its OWN projection first: the md5
    hashing is referenced by all M permutation arrays, and CollapseProject
    keeps a non-cheap multi-referenced alias materialized instead of
    inlining the hash expression M times into the signature."""
    hs = docs.withColumn("_th", token_hashes(F.col(text)))
    sig = F.array(
        *[
            F.array_min(
                F.transform(
                    F.col("_th"), lambda v: F.pmod(v * F.lit(a) + F.lit(b), F.lit(H60_P))
                )
            )
            for a, b in MINHASH_COEFFS
        ]
    )
    return hs.withColumn("minhash", sig).drop("_th")


def minhash_candidates(
    docs: DataFrame, record: str = "doc_id", text: str = "text", rows_per_band: int = 1
) -> DataFrame:
    """Banded-LSH candidate pairs (a < b). rows_per_band=1 -> candidates
    share at least one minhash; higher values tighten the bucket key.
    One explode + one self equi-join on (band, key) — AQE handles hot
    buckets."""
    if len(MINHASH_COEFFS) % rows_per_band:
        raise ValueError(
            f"rows_per_band={rows_per_band} must divide the signature "
            f"length {len(MINHASH_COEFFS)} — trailing minhashes would be "
            "silently un-banded, lowering recall below the configured theory"
        )
    sig = with_minhash(docs, text).select(record, "minhash")
    n_bands = len(MINHASH_COEFFS) // rows_per_band
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                *[
                    F.element_at("minhash", i * rows_per_band + j + 1)
                    for j in range(rows_per_band)
                ],
            )
            for i in range(n_bands)
        ]
    )
    b = sig.select(record, "minhash", F.posexplode(bands).alias("band", "key"))
    l = b.select(F.col(record).alias("a"), F.col("minhash").alias("sa"), "band", "key")
    r = b.select(F.col(record).alias("b"), F.col("minhash").alias("sb"), "band", "key")

    # Exactly-once emission: keep a pair only in its FIRST matching band.
    # Near-identical docs match in every band, so the naive join emits
    # each hot pair n_bands times and then pays a wide distinct; checking
    # "no earlier band matched" against the signatures already on both
    # sides of the join removes that shuffle entirely.
    def _band_eq(j: int) -> Column:
        cols = [
            F.element_at("sa", j * rows_per_band + k + 1)
            == F.element_at("sb", j * rows_per_band + k + 1)
            for k in range(rows_per_band)
        ]
        out = cols[0]
        for c in cols[1:]:
            out = out & c
        return out

    # Statically unrolled "no earlier band matched" — a flat boolean over
    # n_bands terms stays inside whole-stage codegen (an array-HOF here
    # costs more than the distinct it replaces).
    first_match = F.lit(True)
    for j in range(n_bands - 1):
        first_match = first_match & ((F.col("band") <= j) | ~_band_eq(j))
    return (
        l.join(r, ["band", "key"], "inner")
        .where((F.col("a") < F.col("b")) & first_match)
        .select("a", "b")
    )


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float,
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Distinct-token Jaccard for candidate pairs; keep >= threshold.

    Tokens are compared as their 60-bit hashes (deduped after hashing),
    not as strings: long-array intersection is several times cheaper than
    string-array intersection on the verify join (the hot path — LSH
    candidate volume), and the hash is the same deterministic md5-based
    function on both engines, so the DuckDB oracle sees identical values.
    A cross-token collision inside one pair's union (~|U|^2 / 2^31,
    ~5e-6 at 100 tokens) shifts that pair's Jaccard by one token."""
    toks = docs.select(
        F.col(record), F.array_distinct(token_hashes(F.col(text))).alias("toks")
    )
    j = (
        pairs.join(toks.select(F.col(record).alias("a"), F.col("toks").alias("ta")), "a")
        .join(toks.select(F.col(record).alias("b"), F.col("toks").alias("tb")), "b")
    )
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size("ta") + F.size("tb")).cast("double") - inter
    # Filter in multiply form (inter appears once, no division):
    # inter/(tot-inter) >= T  <=>  inter*(1+T) >= T*tot.  The projection
    # still needs inter for the jaccard column, so the intersect runs
    # twice per candidate instead of three times (filter pushed into the
    # join condition + numerator + denominator).
    tot = (F.size("ta") + F.size("tb")).cast("double")
    keep = inter * F.lit(1.0 + threshold) >= F.lit(float(threshold)) * tot
    return j.where(keep).select("a", "b", (inter / union).alias("jaccard"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    record: str = "doc_id",
    text: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (word 3-gram shingle sets) via
    the classic inverted-index posting join — the non-approximate sibling
    of minhash_dedup_pairs, for corpora where exact set similarity is the
    contract: explode each document's distinct shingle hashes (postings),
    equi-join postings on the shingle (a < b), count shared shingles per
    pair, keep |A∩B| / (|A|+|B|-|A∩B|) >= threshold.

    Shingles are compared as their 60-bit md5 hashes (h60 — identical in
    DuckDB), so the shuffle carries longs, not strings. Distributed
    shape: one explode + one equi-join + one partial-aggregatable count —
    pair volume is sum(df^2) over shingles, NOT docs^2. At 100 TB the
    skew lever is ``max_df``: dropping shingles that occur in more than
    max_df documents (boilerplate/stop-shingles, exactly what production
    dedup pipelines drop) bounds every posting list; sizes are then
    recounted over the surviving shingles so the Jaccard stays a true
    set similarity on the filtered universe. AQE skew-join splits any
    residual hot bucket.

    Returns (id_a, id_b, n_shared, jaccard).
    """
    base = docs.select(
        F.col(record).alias("_id"),
        tokens(F.col(text)).alias("_toks"),
        F.size(tokens(F.col(text))).alias("_n"),
    )
    toks, n = F.col("_toks"), F.col("_n")
    # the fingerprint() 3-word shingle construction (short docs degrade
    # to one clamped shingle), hashed then deduped
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
            lambda i: h60(
                F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, F.least(i + 1, n)),
                    F.element_at(toks, F.least(i + 2, n)),
                )
            ),
        )
    )
    # bind the shingle array ONCE, then explode (hash, set-size) structs
    # from the bound column: referencing `sh` from both size() and
    # explode() lets CollapseProject inline the md5 transform into the
    # post-Generate projection, recomputing the whole array PER POSTING
    # ROW — O(L^2) per doc, measured 10x slower at sf0.1 (the same
    # pitfall with_minhash documents)
    sets = base.select("_id", sh.alias("_sh"))
    posts = sets.select(
        "_id",
        F.explode(
            F.transform(
                F.col("_sh"),
                lambda h: F.struct(h.alias("h"), F.size(F.col("_sh")).alias("sz")),
            )
        ).alias("_p"),
    ).select("_id", F.col("_p.sz").alias("_sz"), F.col("_p.h").alias("_h"))
    if max_df is not None:
        keep = (
            posts.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("_h")
        )
        filtered = posts.join(keep, "_h").drop("_sz")
        szs = filtered.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
        posts = filtered.join(szs, "_id")
    a = posts.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sa"), "_h")
    b = posts.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_sb"), "_h")
    pairs = (
        a.join(b, "_h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_sa", "_sb")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        (F.col("_sa") + F.col("_sb") - F.col("n_shared")).cast("double")
    )
    return (
        pairs.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


# The bitmap verify dictionary-encodes the corpus vocabulary; it only
# applies when the distinct-token-hash count fits this many bits (64-bit
# words per doc = MAX_BITMAP_BITS/64). Beyond it, the generic long-array
# intersect path runs instead.
MAX_BITMAP_BITS = 4096


def token_bitmaps(
    docs: DataFrame, n_words: int, record: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Per-doc token-set bitmap: ``n_words`` packed int64 word columns
    (w0..w{n-1}) plus the distinct-token count ``nt``.

    The global dictionary (distinct token hash -> dense bit position) is a
    tiny frame (bounded by MAX_BITMAP_BITS rows) broadcast onto the
    exploded token stream; the per-doc OR-fold is a map-side-combinable
    sum because each (doc, hash) row is distinct, so every bit is set by
    exactly one row. Docs with zero tokens keep all-zero words via the
    left join."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(record), F.explode(F.array_distinct(token_hashes(F.col(text)))).alias("h")
    )
    vocab = (
        toks.select("h")
        .distinct()
        .select("h", (F.row_number().over(Window.orderBy("h")) - 1).alias("bit"))
    )
    # executor-side capacity guard baked into the live bit column: a bit
    # beyond n_words*64 would match no word column and silently vanish
    # from every bitmap while nt still counted it — undercounting
    # intersections with no error
    vocab = vocab.select(
        "h",
        F.when(F.col("bit") < F.lit(n_words * 64), F.col("bit"))
        .otherwise(
            F.raise_error(
                F.lit(f"token vocabulary exceeds the {n_words * 64}-bit "
                      "bitmap capacity; raise n_words or use the "
                      "long-array verify lane")
            )
        )
        .alias("bit"),
    )
    word = F.expr("shiftleft(1L, int(bit % 64))")
    zero = F.lit(0).cast("long")
    bm = (
        toks.join(F.broadcast(vocab), "h")
        .groupBy(record)
        .agg(
            *[
                F.sum(F.when(F.floor(F.col("bit") / 64) == w, word).otherwise(zero)).alias(
                    f"w{w}"
                )
                for w in range(n_words)
            ],
            F.count("*").alias("nt"),
        )
    )
    out = docs.select(record).join(bm, record, "left")
    return out.select(
        record,
        *[F.coalesce(F.col(f"w{w}"), zero).alias(f"w{w}") for w in range(n_words)],
        F.coalesce(F.col("nt"), F.lit(0)).cast("int").alias("nt"),
    )


def jaccard_pairs_bitmap(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float,
    n_words: int,
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Exact-Jaccard verify via dictionary bitmaps: intersection size is
    sum of bit_count(wa & wb) — flat int64 columns through the two
    broadcast joins and pure whole-stage-codegen bit ops, no per-pair
    hash-set allocation (Spark's array_intersect builds one per row,
    ~30x slower on the LSH candidate volume). Emits exactly the rows and
    jaccard values of :func:`jaccard_pairs`."""
    bm = token_bitmaps(docs, n_words, record, text)
    a = bm.select(
        F.col(record).alias("a"),
        *[F.col(f"w{w}").alias(f"wa{w}") for w in range(n_words)],
        F.col("nt").alias("na"),
    )
    b = bm.select(
        F.col(record).alias("b"),
        *[F.col(f"w{w}").alias(f"wb{w}") for w in range(n_words)],
        F.col("nt").alias("nb"),
    )
    j = pairs.join(a, "a").join(b, "b")
    inter = sum(
        [F.bit_count(F.col(f"wa{w}").bitwiseAND(F.col(f"wb{w}"))) for w in range(n_words)]
    ).cast("double")
    tot = (F.col("na") + F.col("nb")).cast("double")
    keep = inter * F.lit(1.0 + threshold) >= F.lit(float(threshold)) * tot
    return j.where(keep).select("a", "b", (inter / (tot - inter)).alias("jaccard"))


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    record: str = "doc_id",
    text: str = "text",
    verify: str = "auto",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> bands -> candidate
    join -> exact Jaccard filter.

    verify='auto' probes a SMALL document sample (CollectLimit — no full
    corpus scan) for its vocabulary size: if the sample alone exceeds
    MAX_BITMAP_BITS distinct token hashes the corpus certainly does, so
    the open-vocabulary long-array path is chosen with zero extra
    full-corpus passes (the 100-TB default). Only when the probe stays
    bounded (small fixture corpora) does one exact countDistinct run to
    size the dictionary bitmaps. 'bitmap'/'array' force a path. Both
    verifies are exact and emit identical rows — the bitmap path is the
    bounded-vocabulary fast lane (classic similarity-join dictionary
    encoding), the array path is the open-vocabulary scale path."""
    pairs = minhash_candidates(docs, record, text)
    if verify == "auto":
        probe = int(
            docs.select(text)
            .limit(256)
            .select(F.explode(token_hashes(F.col(text))).alias("h"))
            .agg(F.countDistinct("h"))
            .collect()[0][0]
            or 0
        )
        if probe > MAX_BITMAP_BITS:
            return jaccard_pairs(docs, pairs, threshold, record, text)
    if verify in ("auto", "bitmap"):
        v = int(
            docs.select(F.explode(token_hashes(F.col(text))).alias("h"))
            .agg(F.countDistinct("h"))
            .collect()[0][0]
            or 0
        )
        if verify == "bitmap" or v <= MAX_BITMAP_BITS:
            return jaccard_pairs_bitmap(
                docs, pairs, threshold, max(1, (v + 63) // 64), record, text
            )
    return jaccard_pairs(docs, pairs, threshold, record, text)


# ----------------------------------------------------------------- simhash

SIMHASH_BITS = 32


def simhash(docs: DataFrame, record: str = "doc_id", text: str = "text") -> DataFrame:
    """32-bit SimHash over the token multiset (one explode + one groupBy
    with 32 map-side-combinable sums)."""
    tok = docs.select(
        F.col(record), F.explode(tokens(F.col(text))).alias("tok")
    ).withColumn("h", h60(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    g = tok.groupBy(record).agg(*votes)
    packed = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        packed = term if packed is None else packed + term
    return g.select(F.col(record), packed.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, record: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance: band join on 4 byte
    blocks (any equal block -> candidate), then bit_count verify.
    EXACT for max_hamming <= 3 (pigeonhole over 4 bands guarantees a
    shared block); for larger thresholds — including the catalog's
    default of 6 — recall is approximate-by-design: a pair with 4+
    differing bits spread across all 4 blocks is never a candidate.
    The DuckDB oracle transcribes the same banding, so the gate checks
    the banded semantics, not exhaustive hamming."""
    sig = simhash(docs, record, text)
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                F.shiftright(F.col("simhash"), i * 8).bitwiseAND(F.lit(255)),
            )
            for i in range(4)
        ]
    )
    b = sig.select(record, "simhash", F.posexplode(bands).alias("band", "key"))
    l = b.select(F.col(record).alias("a"), F.col("simhash").alias("ha"), "band", "key")
    r = b.select(F.col(record).alias("b"), F.col("simhash").alias("hb"), "band", "key")
    # Exactly-once emission (see minhash_candidates): keep the pair only
    # in its first matching byte block, judged from ha/hb post-join —
    # replaces the wide distinct over band-duplicated pairs.
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    first_match = F.lit(True)
    for j in range(3):
        first_match = first_match & (
            (F.col("band") <= j) | (F.shiftright(xor, j * 8).bitwiseAND(F.lit(255)) != 0)
        )
    cand = (
        l.join(r, ["band", "key"])
        .where((F.col("a") < F.col("b")) & first_match)
        .select("a", "b", "ha", "hb")
    )
    ham = F.bit_count(xor)
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select(
        "a", "b", "hamming"
    )


# ------------------------------------------------------------ text metrics


def token_counts(docs: DataFrame, record: str = "doc_id", text: str = "text") -> DataFrame:
    t = F.col(text)
    return docs.select(
        F.col(record),
        F.size(tokens(t)).alias("n_tokens"),
        F.regexp_count(t, F.lit(BPE_PAT)).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_"),
    )


def quality_score(docs: DataFrame, record: str = "doc_id", text: str = "text") -> DataFrame:
    """Length / punctuation / stopword quality components + combined score."""
    t = F.col(text)
    n_tok = F.size(tokens(t)).cast("double")
    punct = F.regexp_count(t, F.lit(PUNCT_PAT)).cast("double") / F.length(t).cast("double")
    stop = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(tokens(t), lambda tk: F.array_contains(stop, tk))
    ).cast("double")
    stop_ratio = stop_hits / n_tok
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct)
        + F.lit(0.3) * stop_ratio
    )
    return docs.select(
        F.col(record),
        n_tok.alias("n_tokens"),
        punct.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def lang_id(docs: DataFrame, record: str = "doc_id", text: str = "text") -> DataFrame:
    """Stopword-hit language id. Deterministic tie order = LANG_PRIORITY."""
    toks = distinct_tokens(F.col(text))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
        )
        for lang in LANG_PRIORITY
    }
    # CASE chain: first lang whose score beats all later langs (>=) and
    # strictly beats all earlier ones (>)
    expr = None
    for lang in LANG_PRIORITY:
        conds = []
        for other in LANG_PRIORITY:
            if other == lang:
                continue
            if LANG_PRIORITY.index(other) > LANG_PRIORITY.index(lang):
                conds.append(scores[lang] >= scores[other])
            else:
                conds.append(scores[lang] > scores[other])
        allc = conds[0]
        for c in conds[1:]:
            allc = allc & c
        expr = F.when(allc, F.lit(lang)) if expr is None else expr.when(allc, F.lit(lang))
    pred = expr.otherwise(F.lit(LANG_PRIORITY[0]))
    return docs.select(F.col(record), pred.alias("pred_lang"))


def fingerprint(docs: DataFrame, record: str = "doc_id", text: str = "text") -> DataFrame:
    """Content fingerprints: exact md5 + min 3-word-shingle hash.

    The token array is bound in its own projection (non-cheap alias
    referenced by every element_at) so the lambda bodies read a
    materialized array instead of re-splitting the text per element —
    2x+ on the narrow pass."""
    base = docs.select(
        F.col(record),
        F.col(text).alias("_t"),
        tokens(F.col(text)).alias("_toks"),
        F.size(tokens(F.col(text))).alias("_n"),
    )
    toks, n = F.col("_toks"), F.col("_n")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, F.least(i + 1, n)),
            F.element_at(toks, F.least(i + 2, n)),
        ),
    )
    min_sh = F.array_min(F.transform(shingles, lambda s: h60(s)))
    return base.select(
        F.col(record), F.md5(F.col("_t")).alias("content_md5"), min_sh.alias("min_shingle_hash")
    )


# --------------------------------------------------------------- PII scrub

# patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): character classes, bounded/unbounded repeats — no lookaround,
# no backreferences, so both engines match identical spans
PII_URL = r"https?://[^\s]+"
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONG_NUM = r"[0-9]{9,}"


def pii_scrub(docs: DataFrame, record: str = "doc_id",
              text: str = "text") -> DataFrame:
    """Training-data PII/link scrubbing: replace URLs, then e-mail
    addresses, then long digit runs (IDs, phone-ish numbers) with typed
    placeholder tokens, entirely JVM-side (``regexp_replace`` chains in
    whole-stage codegen — zero Python). Order matters: URLs first so an
    address inside a link is consumed by <URL>, not split. Also emits
    per-doc match counts so a pipeline can gate on PII density.
    """
    t = F.col(text)
    # F.size(null) is -1 by default, so a null text would yield -2
    # counts; normalize null text to zero matches (clean_text stays
    # null — a pass-through, matching SQL regexp_replace(NULL) = NULL)
    n_urls = F.when(t.isNull(), F.lit(0)).otherwise(
        F.size(F.split(t, PII_URL)) - 1)
    n_emails_pre = F.when(t.isNull(), F.lit(0)).otherwise(
        F.size(F.split(t, PII_EMAIL)) - 1)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_URL, "<URL>"),
            PII_EMAIL, "<EMAIL>"),
        PII_LONG_NUM, "<NUM>")
    return docs.select(
        F.col(record),
        scrubbed.alias("clean_text"),
        n_urls.cast("int").alias("n_urls"),
        # e-mails counted BEFORE the URL pass (a scheme-less address
        # inside a URL path still counts toward PII density)
        n_emails_pre.cast("int").alias("n_emails"),
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    record: str = "doc_id",
) -> DataFrame:
    """The end of the dedup story: near-dup PAIRS (from any of the
    minhash / simhash / ngram lanes, columns (a, b)) -> connected
    components (distributed hash-to-min label propagation,
    operators/graph.py) -> one canonical doc per cluster. Returns every
    doc with (cluster_id = min doc_id in its component, is_canonical);
    a corpus pipeline keeps ``is_canonical`` rows. Singleton docs are
    their own cluster — the CC nodes frame is the full doc table, so
    nothing silently drops."""
    from whitebox_tools_spark.operators.graph import connected_components

    nodes = docs.select(F.col(record).alias("id"))
    comp = connected_components(pairs.select("a", "b"), nodes)
    return comp.select(
        F.col("node").alias(record),
        F.col("comp").alias("cluster_id"),
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    )


# ---------------------------------------------------------- sequence packing


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 512,
    record: str = "doc_id",
    text: str = "text",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """LLM pretraining sequence packing, concat-and-chunk semantics:
    documents are laid end-to-end in ``record`` order and cut into
    fixed ``max_tokens`` bins (docs may straddle a boundary — the
    GPT-style packing that wastes zero context). Emits one row per
    (doc, bin) span: (record, bin_id, bin_offset, span_len, n_tokens).

    Entirely JVM-side: one window cumulative sum + a ``sequence``
    explode over the (tiny) per-doc bin range. With no
    ``partition_cols`` the window is global — a single-partition sort,
    fine for a shard; at 100 TB pass partition_cols (e.g. the shard or
    language key) so each shard packs independently and the window
    parallelizes per key, which is also what keeps bin ids stable under
    re-partitioning."""
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    n_tok = F.size(F.split(F.col(text), " "))
    from pyspark.sql import Window

    w = Window.orderBy(record)
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(record)
    base = docs.select(
        record,
        *(partition_cols or []),
        n_tok.alias("n_tokens"),
    ).withColumn("tok_end", F.sum("n_tokens").over(w))
    base = base.withColumn("tok_start", F.col("tok_end") - F.col("n_tokens"))
    L = F.lit(max_tokens)
    spans = base.select(
        record,
        *(partition_cols or []),
        "n_tokens",
        "tok_start",
        "tok_end",
        # exact integer division (`div`), NOT `/`+cast: the double
        # quotient rounds at ~2^53 cumulative tokens, mis-binning a doc
        # that starts exactly on a bin boundary — real at corpus scale
        F.explode(
            F.sequence(
                F.expr(f"tok_start div {int(max_tokens)}"),
                F.expr(f"(tok_end - 1) div {int(max_tokens)}"),
            )
        ).alias("bin_id"),
    )
    bin_lo = F.col("bin_id") * L
    span_start = F.greatest(F.col("tok_start"), bin_lo)
    span_end = F.least(F.col("tok_end"), bin_lo + L)
    return spans.select(
        record,
        *(partition_cols or []),
        F.col("bin_id").cast("long").alias("bin_id"),
        (span_start - bin_lo).cast("int").alias("bin_offset"),
        (span_end - span_start).cast("int").alias("span_len"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


# ------------------------------------------------------- corpus utilities


def split_corpus(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    record: str = "doc_id",
    salt: str = "split-v1",
) -> DataFrame:
    """Deterministic hash split (train/val/test): bucket = portable
    60-bit md5 of (salt + record) mod 100, assigned to splits by
    cumulative weight. Hash-based (not random) on purpose — the split
    is stable under re-runs, re-partitioning and corpus growth (a doc
    never migrates), which is the property a training pipeline needs.
    ``weights`` are integer percentages summing to 100 (default
    98/1/1). Zero shuffles: a pure projection."""
    weights = weights or {"train": 98, "val": 1, "test": 1}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100, got {weights}")
    bucket = F.pmod(h60(F.concat(F.lit(salt), F.lit(":"),
                                 F.col(record).cast("string"))), F.lit(100))
    expr = None
    lo = 0
    for name, wgt in weights.items():
        cond = bucket < F.lit(lo + wgt)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += wgt
    return docs.select(
        F.col(record), bucket.cast("int").alias("bucket"),
        expr.alias("split"),
    )


def build_vocab(
    docs: DataFrame,
    top_k: int = 1000,
    text: str = "text",
) -> DataFrame:
    """Frequency vocabulary (the tokenizer-training precursor): global
    whitespace-token counts -> top_k tokens with dense rank ids
    (count DESC, token ASC — a total order, so ids are deterministic).
    One explode + one partial-aggregated groupBy; the rank window runs
    over at most the distinct-token set, and only top_k rows survive."""
    from pyspark.sql import Window

    tok = docs.select(F.explode(F.split(F.col(text), " ")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("token_id", F.row_number().over(w) - 1)
        .where(F.col("token_id") < top_k)
        .select("token_id", "token", "n")
    )


# ------------------------------------------------- repetition signals


def _top_ngram_char_best(toks: Column, n_col: Column, n: int) -> Column:
    """Max over distinct word n-grams g of count(g) * length(g), as an
    INT (exact — the caller divides once). Sorted-run counting, not a
    per-gram filter scan: build the n-gram array, array_sort it, then a
    single linear ``aggregate`` pass tracks (prev, run-length, best).
    O(B log B) per document instead of the naive O(B^2) — the shape
    that stays flat on book-length docs."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n_col - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(toks, F.least(i + j, n_col)) for j in range(n)],
        ),
    )
    sorted_g = F.array_sort(grams)
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run * F.length(x)).alias("best"),
        )

    return F.aggregate(sorted_g, init, step, lambda acc: acc["best"])


def repetition_signals(
    docs: DataFrame, record: str = "doc_id", text: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public paper), the standard excessive-repetition filter of a
    training-data pipeline. Per document:

    - ``dup_token_frac``: (n_tokens - n_distinct_tokens) / n_tokens —
      word-level repetition mass;
    - ``dup_line_frac``: (n_lines - n_distinct_lines) / n_lines over
      ``\\n``-split lines (0.0 for single-line docs);
    - ``top_2gram_char_frac`` / ``top_3gram_char_frac``: max over
      distinct word n-grams g of count(g)*len(g), divided by len(text)
      — the "one phrase dominates the document" detector.

    Entirely JVM higher-order functions, zero shuffles (a pure
    projection); each array is bound once in its own projection so
    CollapseProject cannot inline the token build per n-gram (the
    with_minhash / ngram_jaccard_pairs recompute trap). Counts are
    exact integers; every ratio is one division, so a SQL oracle lands
    on identical doubles."""
    t = F.col(text)
    base = docs.select(
        F.col(record),
        F.length(t).alias("_len"),
        tokens(t).alias("_tok"),
        F.split(t, "\n").alias("_ln"),
    )
    toks, ln = F.col("_tok"), F.col("_ln")
    n_tok = F.size(toks)
    n_ln = F.size(ln)
    bound = base.select(
        record, "_len",
        n_tok.alias("_nt"),
        (n_tok - F.size(F.array_distinct(toks))).alias("_dup_t"),
        (n_ln - F.size(F.array_distinct(ln))).alias("_dup_l"),
        n_ln.alias("_nl"),
        _top_ngram_char_best(toks, n_tok, 2).alias("_b2"),
        _top_ngram_char_best(toks, n_tok, 3).alias("_b3"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return bound.select(
        record,
        (d("_dup_t") / d("_nt")).alias("dup_token_frac"),
        (d("_dup_l") / d("_nl")).alias("dup_line_frac"),
        (d("_b2") / d("_len")).alias("top_2gram_char_frac"),
        (d("_b3") / d("_len")).alias("top_3gram_char_frac"),
    )


# ------------------------------------------------- benchmark decontamination


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    min_shared: int = 1,
    record: str = "doc_id",
    text: str = "text",
    bench_record: str = "bench_id",
    bench_text: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    word 3-gram shingles with any benchmark/eval document (the standard
    pre-training leak filter). Returns (record, bench_record, n_shared)
    for every contaminated pair with ``n_shared >= min_shared`` distinct
    shared shingles.

    Shape: distinct shingle-hash postings on both sides (the
    ngram_jaccard_pairs construction — 60-bit h60 longs, clamped
    3-gram build), then ONE equi-join on the shingle hash with the
    benchmark side broadcast — eval sets are thousands of docs, the
    training corpus is 10^12, so the join is map-side and the corpus is
    scanned exactly once with zero shuffles. A benchmark too large to
    broadcast degrades gracefully: drop the hint and the same plan runs
    as a shuffle equi-join on the hash."""

    def posts(frame: DataFrame, rec: str, txt: str, out: str) -> DataFrame:
        base = frame.select(
            F.col(rec).alias(out),
            tokens(F.col(txt)).alias("_toks"),
            F.size(tokens(F.col(txt))).alias("_n"),
        )
        toks, n = F.col("_toks"), F.col("_n")
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1))),
                lambda i: h60(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, F.least(i + 1, n)),
                        F.element_at(toks, F.least(i + 2, n)),
                    )
                ),
            )
        )
        # bind-then-explode (the ngram_jaccard_pairs recompute note) —
        # and explode_OUTER, deliberately: a plain explode lets Catalyst
        # infer `size(_sh) > 0`, and with `_sh` referenced only once
        # CollapseProject inlines the whole md5 shingle build into that
        # filter, which is then PUSHED INTO THE SCAN as a DataFilter —
        # the build runs twice per row (measured 8x slower at sf0.1).
        # Shingle arrays are never empty (greatest(n-2,1) >= 1), and a
        # hypothetical null row would drop at the hash equi-join anyway.
        return (
            base.select(out, sh.alias("_sh"))
            .select(out, F.explode_outer("_sh").alias("_h"))
        )

    d = posts(docs, record, text, record)
    b = posts(benchmark, bench_record, bench_text, bench_record)
    return (
        d.join(F.broadcast(b), "_h")
        .groupBy(record, bench_record)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
        .select(record, bench_record, "n_shared")
    )


# ---------------------------------------------------- relevance scoring


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """BM25 + TF-IDF relevance scores of every document against a fixed
    query term set (Robertson et al., the classic probabilistic ranking
    — the standard quality/topicality filter of a training-data
    pipeline, e.g. "score every crawl page against a seed topic
    vocabulary"). Returns (record, n_tokens, bm25, tfidf).

    - per-term tf is a JVM higher-order ``filter``+``size`` over the
      bound token array (terms are a small literal list — zero extra
      corpus passes, no explode);
    - the global stats (N, avg doc length, per-term document
      frequency) are ONE partial-aggregated reduce to a single row,
      broadcast-crossJoined back — so at 100 TB the lane is two
      corpus scans and zero wide shuffles;
    - idf is the Lucene BM25 form ln(1 + (N - df + .5)/(df + .5))
      (always positive); tfidf uses tf * ln(N/df) with a df=0 guard.

    Double arithmetic is written in a fixed association order and the
    catalog row rounds to 6 dp on both sides (the catalog_stats.py
    convention for transcendental lanes)."""
    if not terms:
        raise ValueError("bm25_scores needs a non-empty term list")
    if len(set(terms)) != len(terms):
        raise ValueError(f"bm25_scores terms must be distinct, got {list(terms)}")
    base = docs.select(F.col(record), tokens(F.col(text)).alias("_toks"))

    def _tf(term: str) -> Column:
        # closure factory, NOT a default-arg lambda: a 2-parameter
        # lambda would make F.filter bind the (value, index) form
        return F.size(F.filter(F.col("_toks"), lambda x: x == F.lit(term)))

    per = base.select(
        record,
        F.size("_toks").alias("_dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    g = per.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_dl").alias("_sdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    j = per.crossJoin(F.broadcast(g))
    nd = F.col("_n").cast("double")
    avgdl = F.col("_sdl").cast("double") / nd
    dl = F.col("_dl").cast("double")
    bm, ti = None, None
    for i in range(len(terms)):
        tf = F.col(f"_tf{i}").cast("double")
        df = F.col(f"_df{i}").cast("double")
        idf = F.log((nd - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        denom = tf + F.lit(float(k1)) * (
            (F.lit(1.0) - F.lit(float(b))) + F.lit(float(b)) * (dl / avgdl)
        )
        c = idf * (tf * F.lit(float(k1) + 1.0)) / denom
        t_ = F.when(tf > 0, tf * F.log(nd / df)).otherwise(F.lit(0.0))
        bm = c if bm is None else bm + c
        ti = t_ if ti is None else ti + t_
    return j.select(
        F.col(record),
        F.col("_dl").cast("int").alias("n_tokens"),
        bm.alias("bm25"),
        ti.alias("tfidf"),
    )


# ------------------------------------------- substring-level exact dedup


def dup_spans(
    docs: DataFrame,
    k: int = 8,
    min_shingles: int = 1,
    max_df: int | None = None,
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Substring-level exact deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", public
    paper): find every maximal span of >= k consecutive tokens that
    occurs more than once anywhere in the corpus (another document OR
    another position of the same document) — the spans a pipeline
    would cut out before training, where document-level dedup keeps
    them. The distributed stand-in for the paper's suffix array:
    positional k-token shingle postings -> global occurrence counts ->
    merge runs of consecutive duplicated positions (gaps-and-islands)
    into maximal spans.

    Returns (record, span_start, span_end, span_tokens, n_shingles)
    with 1-based inclusive token positions.

    Shape: one posting explode, one count shuffle on the 60-bit
    shingle hash (partial-aggregated; AQE splits hot hashes), one
    equi-join back, one per-document window. Pair volume never
    appears — the lane counts postings, it does not enumerate pairs.
    At 100 TB the skew lever is ``max_df``: shingles occurring in
    more than max_df positions are stop-shingles (boilerplate) and
    are dropped from the duplicated set — the same lever, with the
    same semantics, as ngram_jaccard_pairs — which bounds every join
    bucket; AQE skew-split handles the residual.

    The posting explode deliberately runs TWICE (once into the
    partial-aggregated count, once into the join) rather than once
    into a window count over the shingle hash: the window would halve
    the scans but funnels every posting of a hot boilerplate shingle
    into a single sort partition BEFORE max_df can drop it, which is
    exactly the skew a 10^12-document corpus has — map-side-combined
    counting never materializes a hot shingle's posting list in one
    task."""
    if k < 2:
        raise ValueError("dup_spans needs k >= 2")
    base = docs.select(
        F.col(record),
        tokens(F.col(text)).alias("_toks"),
        F.size(tokens(F.col(text))).alias("_n"),
    ).where(F.col("_n") >= k)
    toks, n = F.col("_toks"), F.col("_n")
    sh = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: h60(F.concat_ws(" ", F.slice(toks, i, F.lit(k)))),
    )
    # bind-then-posexplode_outer: same CollapseProject / inferred-filter
    # trap as decontaminate's posts (the array is never empty after the
    # _n >= k filter, and explode_outer stops Catalyst pushing the md5
    # build into the scan as an inferred size()>0 DataFilter)
    posts = (
        base.select(record, sh.alias("_sh"))
        .select(record, F.posexplode_outer("_sh").alias("_idx", "_h"))
        .select(record, (F.col("_idx") + 1).alias("pos"), "_h")
    )
    counts = posts.groupBy("_h").agg(F.count(F.lit(1)).alias("_occ"))
    dup_keys = counts.where(F.col("_occ") > 1)
    if max_df is not None:
        dup_keys = dup_keys.where(F.col("_occ") <= int(max_df))
    dup = posts.join(dup_keys.select("_h"), "_h").select(record, "pos")
    from pyspark.sql import Window

    w = Window.partitionBy(record).orderBy("pos")
    isl = dup.withColumn("_isl", F.col("pos") - F.row_number().over(w))
    spans = (
        isl.groupBy(record, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("_last"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .where(F.col("n_shingles") >= int(min_shingles))
    )
    return spans.select(
        F.col(record),
        F.col("span_start").cast("long").alias("span_start"),
        (F.col("_last") + (k - 1)).cast("long").alias("span_end"),
        (F.col("_last") + (k - 1) - F.col("span_start") + 1)
        .cast("long")
        .alias("span_tokens"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


# ------------------------------------------------------- BPE merge training


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text: str = "text",
) -> list[tuple[int, str, str, int]]:
    """Byte-pair-encoding merge training (Sennrich et al. 2016, public
    paper) — the tokenizer-training step of an LLM data pipeline,
    distributed the way it should be at 100 TB: the corpus is scanned
    exactly ONCE (the word-frequency aggregate); every merge round then
    runs over the distinct-WORD table (vocabulary-sized — millions of
    rows for a trillion-token corpus), as one explode + one
    partial-aggregated pair count + a single-row argmax. The per-word
    rewrite is a JVM ``aggregate`` fold implementing the standard
    leftmost-greedy merge (so "a a a" under merge (a,a) becomes
    ["aa","a"], matching the reference algorithm).

    Genuinely iterative (each round's pair statistics depend on the
    previous round's segmentation), so the catalog row is a rows-only
    check; exactness is pinned by a pytest against an independent
    pure-Python BPE reference (tests/test_docs_ops.py).

    Returns the merge table [(rank, left, right, pair_count)], argmax
    ties broken by (left, right) lexicographic order — a total order,
    so the table is deterministic."""
    if n_merges < 1:
        raise ValueError("bpe_train needs n_merges >= 1")
    words = (
        docs.select(F.explode(tokens(F.col(text))).alias("w"))
        # drop empty tokens (consecutive/leading/trailing spaces):
        # they carry no pairs in the reference algorithm, and Spark's
        # sequence(1, 0) is DESCENDING [1, 0], which would turn '' into
        # the phantom symbol list ['', ''] and emit bogus ('','')
        # merges (review-found)
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.select(
        "w",
        "cnt",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    empty = F.expr("cast(array() as array<string>)")
    for rank in range(int(n_merges)):
        pairs = cur.where(F.size("syms") >= 2).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i - 1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("p.l"), F.col("p.r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["p"]["l"], top[0]["p"]["r"]
        merges.append((rank, left, right, int(top[0]["n"])))
        merged = left + right

        def _make_step(_l: str, _r: str, _m: str):
            # factory, not default args: F.aggregate requires the merge
            # lambda itself to take exactly (acc, x)
            def step(acc, x):
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(_l))
                    & (x == F.lit(_r))
                )
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(_m)),
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return step

        step = _make_step(left, right, merged)

        # localCheckpoint per round: the fold nests one aggregate() per
        # merge — truncating lineage keeps the plan flat and re-runs the
        # (vocabulary-sized) rewrite, never the corpus scan
        cur = cur.withColumn(
            "syms", F.aggregate("syms", empty, step)
        ).localCheckpoint(eager=True)
    return merges


# ------------------------------------------------- bigram LM quality score


def bigram_lm_scores(
    docs: DataFrame,
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained word-bigram
    language model with add-one smoothing (the KenLM stand-in of a
    training pipeline's quality gate, computable without external
    models): P(w2|w1) = (c(w1 w2) + 1) / (c_prefix(w1) + V), and each
    document scores mean ln P over its bigrams. Gibberish and
    boilerplate-free text score low; corpus-typical text scores high.

    Returns (record, n_bigrams, avg_logp) for documents with >= 2
    tokens.

    Scale shape: ONE bigram-count shuffle (partial-aggregated; prefix
    counts derive from it, so there is no second corpus pass), one
    vocabulary-size scalar broadcast, one equi-join of document bigrams
    to the count table (AQE splits hot bigrams), one per-document
    fold. The per-document mean folds ln P IN POSITION ORDER
    (array_sort + aggregate, the pq_topk trick) — never a float sum
    whose order the shuffle would scramble — so the SQL oracle matches
    pre-round to the bit."""
    base = docs.select(
        F.col(record),
        tokens(F.col(text)).alias("_toks"),
        F.size(tokens(F.col(text))).alias("_n"),
    ).where(F.col("_n") >= 2)
    toks, n = F.col("_toks"), F.col("_n")
    bi = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            i.alias("pos"),
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    # bind-then-explode_outer (the decontaminate scan-filter note); the
    # array is never empty after the _n >= 2 filter
    posts = (
        base.select(record, bi.alias("_bi"))
        .select(record, F.explode_outer("_bi").alias("_b"))
        .select(record, "_b.pos", "_b.w1", "_b.w2")
    )
    bic = posts.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c"))
    pre = bic.groupBy("w1").agg(F.sum("_c").alias("_c1"))
    vocab = docs.select(
        F.explode(tokens(F.col(text))).alias("w")
    ).agg(F.countDistinct("w").alias("_v"))
    scored = (
        posts.join(bic, ["w1", "w2"])
        .join(pre, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "_logp",
            F.log(
                (F.col("_c").cast("double") + F.lit(1.0))
                / (F.col("_c1").cast("double") + F.col("_v").cast("double"))
            ),
        )
    )
    agg = (
        scored.groupBy(record)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "_logp"))).alias("_pl"))
        .withColumn(
            "_sum",
            F.aggregate(
                F.expr("transform(_pl, s -> s._logp)"),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn("n_bigrams", F.size("_pl"))
    )
    return agg.select(
        F.col(record),
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        (F.col("_sum") / F.col("n_bigrams").cast("double")).alias("avg_logp"),
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    record: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (from :func:`bpe_train`) to every
    document — the tokenizer-application step, the one that actually
    runs at corpus scale. Returns (record, n_words, n_tokens) where
    n_tokens is the subword count under the merge table.

    The 100-TB shape: the expensive per-word merge folding runs ONCE
    per DISTINCT word (vocabulary-sized frame), and documents get their
    counts back through a broadcast join on the word — the corpus side
    is one explode + one map-side join + one partial-aggregated sum,
    never a per-document merge loop. (At web scale the distinct-word
    frame may outgrow a broadcast; drop the hint and the same plan runs
    as a shuffle equi-join.)

    Not a catalog row: the merge table is data-derived, so no static
    SQL oracle exists (same reason bpe_train is rows-only); exactness
    vs the pure-Python reference is pinned in pytest."""
    words = (
        docs.select(F.explode(tokens(F.col(text))).alias("w"))
        .where(F.length("w") > 0)
        .distinct()
    )
    syms = F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    lens = words.withColumn("_syms", syms)
    empty = F.expr("cast(array() as array<string>)")
    for _rank, left, right, _cnt in sorted(merges):
        merged = left + right

        def _mk(_l: str, _r: str, _m: str):
            def step(acc, x):
                hit = (
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(_l))
                    & (x == F.lit(_r))
                )
                return F.when(
                    hit,
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(_m)),
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return step

        lens = lens.withColumn("_syms", F.aggregate("_syms", empty, _mk(left, right, merged)))
    word_len = lens.select("w", F.size("_syms").alias("_wl"))
    doc_words = (
        docs.select(F.col(record), F.explode(tokens(F.col(text))).alias("w"))
        .where(F.length("w") > 0)
    )
    return (
        doc_words.join(F.broadcast(word_len), "w")
        .groupBy(record)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_wl").alias("n_tokens"),
        )
        .select(
            F.col(record),
            F.col("n_words").cast("int").alias("n_words"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
        )
    )
