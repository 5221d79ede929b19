"""The discovered catalog (api.merge over the catalog_* modules): every
name has one owner, every oracle-less query carries a declared reason,
and the catalog's head covers every module. Spark-free (no session)."""

import importlib
import pkgutil
from types import SimpleNamespace

import pytest

import whitebox_tools_spark
from whitebox_tools_spark import api


def _mod(name, queries, oracle=None, **marks):
    return SimpleNamespace(
        __name__=name, QUERIES=dict.fromkeys(queries, None), ORACLE_SQL=oracle or {}, **marks
    )


def _owners():
    owner = {}
    for info in pkgutil.iter_modules(whitebox_tools_spark.__path__):
        if info.name.startswith("catalog_"):
            mod = importlib.import_module(f"whitebox_tools_spark.{info.name}")
            for q in getattr(mod, "QUERIES", {}):
                owner[q] = info.name
    return owner


def test_merge_orders_first_query_of_each_module_first():
    a = _mod("a", ["a1", "a2"], {"a1": "SQL a1", "a2": "SQL a2"}, HEADLINE=("a2",))
    b = _mod("b", ["b1", "b2"], {"b1": "SQL b1"}, ROWS_ONLY={"b2": "why"})
    queries, oracle, headline, rows_only = api.merge([a, b])
    assert list(queries) == ["a1", "b1", "a2", "b2"]
    assert list(oracle) == ["a1", "b1", "a2"]
    assert headline == ("a2",)
    assert rows_only == {"b2": "why"}


def test_merge_rejects_duplicate_name():
    a = _mod("a", ["q"], {"q": "SQL"})
    b = _mod("b", ["q"], {"q": "SQL"})
    with pytest.raises(ValueError, match="'q' is declared by a and b"):
        api.merge([a, b])


def test_merge_rejects_stray_oracle():
    with pytest.raises(ValueError, match="undeclared queries"):
        api.merge([_mod("a", ["q"], {"q": "SQL", "ghost": "SQL"})])


def test_merge_rejects_stray_headline_mark():
    with pytest.raises(ValueError, match="undeclared queries"):
        api.merge([_mod("a", ["q"], {"q": "SQL"}, HEADLINE=("ghost",))])


def test_merge_rejects_oracle_less_query_without_reason():
    with pytest.raises(ValueError, match="without an oracle"):
        api.merge([_mod("a", ["q", "bare"], {"q": "SQL"})])


def test_merge_rejects_rows_only_reason_for_query_with_oracle():
    with pytest.raises(ValueError, match="without an oracle"):
        api.merge([_mod("a", ["q"], {"q": "SQL"}, ROWS_ONLY={"q": "stale"})])


def test_catalog_oracle_less_queries_are_exactly_rows_only():
    assert set(api.QUERIES) - set(api.ORACLE_SQL) == set(api.ROWS_ONLY)
    assert all(api.ROWS_ONLY.values())


def test_headline_is_in_catalog():
    assert set(api.HEADLINE) <= set(api.QUERIES)
    assert len(set(api.HEADLINE)) == len(api.HEADLINE)


def test_catalog_head_covers_every_module():
    owner = _owners()
    assert set(owner) == set(api.QUERIES)
    k = len(set(owner.values()))
    head = list(api.QUERIES)[:k]
    assert len({owner[q] for q in head}) == k


def test_bench_result_line_fits_a_2000_char_tail():
    """bench.py's one stdout line must parse from a 2000-char tail of
    stdout: every headline query at a 7-char time, with the scaling block
    and a long record path, still fits."""
    import json

    import bench

    record = {
        "metric": "headline_suite_wall",
        "value": 99999.999,
        "unit": "sec",
        "queries": dict.fromkeys(api.HEADLINE, 999.999),
        "sf": 0.001,
        "n_docs": 500_000_000,
        "flagship_docs_per_sec": 99_999_999.9,
        "cores": 32,
        "host": {
            "loadavg_start": [99.99, 99.99, 99.99],
            "loadavg_end": [99.99, 99.99, 99.99],
            "control_sec": 999.999,
        },
        "scaling": {
            "n_cores": 8,
            "n_docs": 500_000_000,
            "docs_per_sec_n": 99_999_999.9,
            "docs_per_sec_4n": 99_999_999.9,
            "efficiency": 0.999,
            "control_efficiency": 0.999,
            "efficiency_vs_vm_ceiling": 0.999,
        },
    }
    path = f"{bench.RECORD_DIR}/bench-20990101T000000-4194304.json"
    line = bench.result_line(record, path)
    assert len(line) <= 2000, len(line)
    parsed = json.loads(line)
    assert len(parsed["slowest"]) == bench.SLOWEST < len(api.HEADLINE)
    assert parsed["record"] == path
    assert parsed["flagship_docs_per_sec"] == record["flagship_docs_per_sec"]
