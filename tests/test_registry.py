"""Meta-tests for the driver-contract registry in __spark_entry__.py:
the gate only works if the three surfaces stay consistent."""

import ast


def _entry():
    import sys

    sys.path.insert(0, ".")
    import __spark_entry__ as m

    return m


def test_every_oracle_has_a_query():
    m = _entry()
    qs, oracles = m.queries(), m.oracle_sql()
    missing = set(oracles) - set(qs)
    assert not missing, f"oracle_sql keys without queries(): {missing}"
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_every_bench_headliner_is_registered():
    import bench

    m = _entry()
    qs = m.queries()
    assert bench.HEADLINE, "bench.HEADLINE is empty"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate headliner"
    missing = set(bench.HEADLINE) - set(qs)
    assert not missing, f"bench headliners missing from queries(): {missing}"
    # the flagship must run FIRST (its in-suite reading is position-sensitive,
    # B30) and the values-only stdout record depends on this pinned order
    assert bench.HEADLINE[0] == "tsne_embedding"


def test_no_complex_types_in_query_output_schemas(query_frame):
    """The driver's DuckDB-compare canonicalizer pandas-sorts every output
    column; ArrayType/MapType/StructType cells are unhashable there (the
    r6 audio_features red row).  Ban complex types in every queries()
    output schema so the class of bug cannot recur."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    m = _entry()
    sf_dir = "/root/testdata/sf0.001"
    offenders = []
    for name in m.queries():
        schema = query_frame(name, sf_dir).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType}")
    assert not offenders, f"complex-typed output columns: {offenders}"


def test_rows_only_queries_have_check_coverage():
    """Every approximate/iterative (rows-only) query is either itself a
    `_check` invariant query or is paired with one — the repo-wide
    correctness discipline."""
    m = _entry()
    rows_only = set(m.queries()) - set(m.oracle_sql())
    uncovered = []
    for name in rows_only:
        if name.endswith("_check"):
            continue
        stem = name[: -len("_features")] if name.endswith("_features") else name
        base_checks = {f"{name}_check", f"{stem}_check"}
        if not base_checks & set(m.queries()):
            uncovered.append(name)
    # every rows-only operator carries a verified-invariant partner
    assert not uncovered, f"rows-only queries without a _check partner: {uncovered}"


def test_driver_window_keeps_check_pairs_together():
    """The driver's correctness gate checks only the FIRST 50 queries()
    entries (the rotating window).  Two invariants the rotation must
    never break:

    - an in-window `_check` query's base query is also in-window (the
      driver should see the pair as a unit);
    - an in-window rows-only (no-oracle) query has its `_check` partner
      in-window too — otherwise the driver records an unverifiable
      rows-only row (the round-8 audio_features lesson).
    """
    m = _entry()
    names = list(m.queries())
    oracles = set(m.oracle_sql())
    window = set(names[:50])
    split = []
    for n in names[:50]:
        if n.endswith("_check") and n[: -len("_check")] in names:
            if n[: -len("_check")] not in window:
                split.append(f"{n} in-window without its base")
        if n not in oracles and f"{n}_check" in names:
            if f"{n}_check" not in window:
                split.append(f"{n} (rows-only) in-window without its check")
    assert not split, split


def test_bench_output_lines_tail_survivable():
    """The bench stdout contract (no Spark needed): every per-query timing
    recoverable from the emitted lines; exactly ONE record carries the
    canonical total metric (flagged "summary": true, positioned LAST); all
    lines together fit the driver's MEASURED 2,000-byte tail capture
    (BENCH_r10/r11 `tail` fields are exactly 2,000 bytes — r11's contract
    assumed ~4 KB and lost ~29 timings).  Sized at the REAL headline list
    with worst-case 4-digit timing values, not short synthetic names."""
    import hashlib
    import json

    import bench

    # worst case: every query slow (4-digit centisecond values), one failed
    timings = {n: 1234.56 + i for i, n in enumerate(bench.HEADLINE)}
    timings["tsne_embedding"] = 29.61
    timings["pricing_summary"] = -1.0  # a failed query
    calib = {
        "start_sec": 0.3,
        "post_flagship_sec": 0.31,
        "pre_dedup_sec": 0.28,
        "end_sec": 0.25,
        "end_over_start": 0.833,
        "arrow": {
            "start": 12.345,
            "post_flagship": 12.345,
            "pre_dedup": 12.345,
            "pre_ann": 12.345,
            "pre_multimodal": 12.345,
            "end": 12.345,
        },
        "np": {
            "ref": 12.345,
            "fl": {"n": 123, "med": 12.345, "max": 12.345},
            "end": 12.345,
        },
        "restart_mid": True,
    }
    lines = bench.emit_output_lines(timings, 99999.0, 0.1, 32, len(timings), calib)
    assert sum(len(line) + 1 for line in lines) < 2000
    parsed = [json.loads(line) for line in lines]
    canonical = [p for p in parsed if p["metric"] == "total_wall_sec_headline_queries"]
    assert len(canonical) == 1 and canonical[0] is parsed[-1]
    assert canonical[0]["summary"] is True
    assert canonical[0]["n_failed"] == 1
    assert canonical[0]["queries"]["tsne_embedding"] == 29.61
    # the values record decodes back to every timing via bench.HEADLINE
    (vrec,) = [p for p in parsed[:-1] if p["metric"] == "per_query_wall_sec_values"]
    assert vrec["n"] == len(bench.HEADLINE)
    assert vrec["order"] == "bench.HEADLINE"
    fp = hashlib.sha1("\n".join(bench.HEADLINE).encode()).hexdigest()[:12]
    assert vrec["order_sha1_12"] == fp
    recovered = dict(zip(bench.HEADLINE, vrec["values"]))
    assert recovered == {n: round(v, 2) for n, v in timings.items()}
