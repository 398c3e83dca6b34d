"""Array-typed results + registry grading-order pins.

The graded projection of ``array_split_ops`` is scalar-only (the
driver's canonicalizer can't hash list cells); this file keeps the
array-typed path itself under test, and pins the registry ordering that
decides which queries land in the driver's graded prefix.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_split_array_path(spark, sf_dir):
    """The raw array<string> result (pre-scalar-encoding) is correct."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    parts = F.split(F.col("n_name"), "A")
    rows = (
        n.select(
            "n_nationkey",
            parts.alias("parts"),
            F.size(parts).alias("n_parts"),
            F.element_at(parts, 1).alias("head"),
        )
        .orderBy("n_nationkey")
        .collect()
    )
    assert rows, "nation table empty"
    for r in rows:
        assert isinstance(r.parts, list)
        assert r.n_parts == len(r.parts)
        assert r.head == r.parts[0]
        # split on 'A' then re-join reconstructs the name
        assert "A".join(r.parts) == spark.read.parquet(
            f"{sf_dir}/nation.parquet"
        ).filter(F.col("n_nationkey") == r.n_nationkey).collect()[0].n_name


def test_graded_projection_is_scalar_only(spark, sf_dir):
    """Every registered query's result schema has no array/map/struct
    top-level columns — the driver's pandas canonicalizer dies on
    unhashable cells (CORRECTNESS_r02: array_split_ops TypeError)."""
    from chapterhouseqe_spark.queries.registry import get_oracles, get_queries

    oracles = get_oracles()
    complex_cols = []
    for name, build in get_queries().items():
        if name not in oracles:
            continue  # rows-only queries are not value-hashed
        df = build(spark, sf_dir)
        for field in df.schema.fields:
            kind = field.dataType.typeName()
            if kind in ("array", "map", "struct"):
                complex_cols.append((name, field.name, kind))
    assert not complex_cols, f"non-scalar graded columns: {complex_cols}"


def test_grade_order_names_exist():
    """A typo in GRADE_ORDER silently drops a query from the graded
    prefix — pin that every listed name is actually registered."""
    from chapterhouseqe_spark.queries.registry import (
        GRADE_ORDER,
        QUERIES,
        _ensure_registered,
    )

    _ensure_registered()
    missing = [n for n in GRADE_ORDER if n not in QUERIES]
    assert not missing, f"GRADE_ORDER names not in registry: {missing}"
    assert len(set(GRADE_ORDER)) == len(GRADE_ORDER), "duplicate GRADE_ORDER names"


def test_graded_prefix_invariants():
    """The driver grades the first 50 registry entries. Window
    invariants (any round): exactly 50 curated slots, every one with a
    full DuckDB oracle (zero rows-only checks), and every operator
    family keeps at least one representative inside the window
    (rotating canaries)."""
    from chapterhouseqe_spark.queries.registry import (
        GRADE_ORDER,
        _ordered,
        get_queries,
    )

    assert len(GRADE_ORDER) == 50
    assert len(set(GRADE_ORDER)) == 50
    first50 = list(get_queries())[:50]
    assert first50 == list(GRADE_ORDER), "registry must lead with GRADE_ORDER"

    qs = _ordered()
    no_oracle = [n for n in first50 if qs[n].oracle is None]
    assert not no_oracle, f"graded without oracle: {no_oracle}"

    # One representative per family stays in-window across rotations.
    # r13 rotation (r12 verdict item 2: grade the 6 r12 additions,
    # then the full r7 cohort): the r7 cohort itself carries
    # join/agg/window/sets/subquery/maintenance/scan reps; tier (a)
    # covers dedup/text/corpus-prep/retrieval/streaming with the
    # freshly graded additions; tier (c) fills udf/similarity/layout/
    # sources — the four families the first two tiers leave uncovered
    # (this map caught the r12 window draft shipping WITHOUT a layout
    # or subquery representative; the r13 draft initially lacked a
    # sources row the same way).
    families = {
        "scan": "orc_scan",
        "join": "join_inner_agg",
        "agg": "group_having",
        "window": "window_rank_topn",
        "udf": "udaf_grouped_median",
        "dedup": "dedup_winnowing_fp",
        "similarity": "embedding_cosine_topk",
        "retrieval": "docs_chunk_ann_topk",
        "text": "text_quality_classifier",
        "streaming": "stream_quality_filter_agg",
        "maintenance": "merge_upsert_orders",
        "layout": "manifest_bloom_scan",
        "sources": "custom_datasource_scan",
        "corpus-prep": "pipeline_filter_funnel_contam",
        "sets": "set_intersect",
        "subquery": "exists_subquery",
    }
    out = [f"{fam}:{n}" for fam, n in families.items() if n not in first50]
    assert not out, f"families without an in-window representative: {out}"


def test_sf1_gate_orders_artifacts_by_round_not_mtime(tmp_path):
    """r10 ADVICE: git checkouts do not preserve mtimes, so a fresh
    clone can leave BENCH_r09.json mtime-newer than BENCH_r10.json and
    a stale untracked bench_last.json newest of all. Artifacts must
    order by the round number in the filename; bench_last.json only
    participates when mtime-newer than the newest artifact."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "sf1_regression_gate",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "tools",
            "sf1_regression_gate.py",
        ),
    )
    g = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(g)

    def write(name, sf1, mtime):
        p = tmp_path / name
        p.write_text(json.dumps({"sf1_queries": sf1}))
        os.utime(p, (mtime, mtime))
        return str(p)

    # adversarial mtimes: r9 newest, r10 oldest, bench_last stale
    # in-between (the exact post-clone hazard the advice describes)
    write("BENCH_r09.json", {"q": 1.0}, 3000)
    write("BENCH_r10.json", {"q": 2.0}, 1000)
    write("bench_last.json", {"q": 9.0}, 2000)
    g.REPO = str(tmp_path)
    srcs = g.candidate_sources()
    names = [os.path.basename(p) for p, _ in srcs]
    assert names == ["BENCH_r09.json", "BENCH_r10.json"], names

    # a genuinely fresh bench_last (mtime-newer than every artifact)
    # still lands newest — the round-close path
    write("bench_last.json", {"q": 9.0}, 5000)
    names = [os.path.basename(p) for p, _ in g.candidate_sources()]
    assert names[-1] == "bench_last.json", names


def test_bench_merge_medians_and_gate_unpacks_pairs(tmp_path):
    """r10 verdict item 2: the bench artifact is a per-query MEDIAN of
    N isolated passes plus a SPREAD (max−min); the sf1 gate consumes
    the medians, unpacking r11 [median, spread] pairs while staying
    compatible with r9/r10 flat floats."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(__file__))

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    med, spread = bench._merge(
        [
            {"a": 1.0, "b": 10.0},
            {"a": 3.0, "b": 11.0, "c": 5.0},  # c skipped in passes 1+3
            {"a": 2.0, "b": 42.7},  # the r10 page-cache outlier shape
        ]
    )
    assert med == {"a": 2.0, "b": 11.0, "c": 5.0}
    assert spread == {"a": 2.0, "b": 32.7, "c": 0.0}

    gspec = importlib.util.spec_from_file_location(
        "sf1_regression_gate",
        os.path.join(root, "tools", "sf1_regression_gate.py"),
    )
    g = importlib.util.module_from_spec(gspec)
    gspec.loader.exec_module(g)
    pairs = tmp_path / "pairs.json"
    pairs.write_text(
        json.dumps({"sf1_queries": {"a": [2.0, 0.3], "b": 11.0}})
    )
    assert g.extract_sf1(str(pairs)) == {"a": 2.0, "b": 11.0}
    # driver-artifact shape (parsed wrapper) with pair values
    wrapped = tmp_path / "BENCH_r99.json"
    wrapped.write_text(
        json.dumps({"parsed": {"sf1_queries": {"a": [4.0, 1.0]}}})
    )
    assert g.extract_sf1(str(wrapped)) == {"a": 4.0}


def test_sf1_regression_gate():
    """r9 verdict item 2: the per-query sf1 map must be compared
    round-over-round — any >1.5x mover needs an explicit PLANS.md
    waiver (``sf1-regression-ok: <name> — <reason>``) documenting the
    A/B that explains it. Skips until two map-bearing bench outputs
    exist (the map first landed in BENCH_r09)."""
    import importlib.util
    import os

    import pytest

    spec = importlib.util.spec_from_file_location(
        "sf1_regression_gate",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "tools",
            "sf1_regression_gate.py",
        ),
    )
    g = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(g)
    srcs = g.candidate_sources()
    if len(srcs) < 2:
        pytest.skip("fewer than two sf1 maps recorded yet")
    (_, prev), (_, cur) = srcs[-2:]
    movers = g.diff_maps(prev, cur)
    bad = [m for m in movers if m[0] not in g.waivers()]
    assert not bad, (
        f"unwaived sf1 regressions {bad}: run an isolated A/B, record "
        "it in PLANS.md, and add an sf1-regression-ok waiver line"
    )


def test_evidence_pipeline_invariant():
    """Every zero-driver-evidence query must be in GRADE_ORDER (graded
    this round) or NEXT_WINDOW_PLAN (explicit next-round tier) — the
    structural fix for three rounds of hand-tallied plan drift (r8
    verdict item 4: the r8 plan comment silently omitted
    dedup_threshold_sensitivity). Shares its logic with
    tools/coverage_counts.py so the round-close tool and the suite can
    never disagree."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "coverage_counts",
        os.path.join(
            os.path.dirname(os.path.dirname(__file__)),
            "tools",
            "coverage_counts.py",
        ),
    )
    cc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cc)
    c = cc.compute()
    assert not c["plan_names_not_registered"], c["plan_names_not_registered"]
    assert not c["unplanned_zero_evidence"], (
        "zero-evidence queries in neither GRADE_ORDER nor "
        f"NEXT_WINDOW_PLAN: {c['unplanned_zero_evidence']}"
    )


def test_bench_tiers_cover_registry_exactly_once():
    """Every registered query is timed in exactly one bench tier —
    the r6 verdict found 84 queries invisible to regression detection;
    the computed core tier closes that permanently."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from chapterhouseqe_spark.queries.registry import get_queries

    names = list(get_queries())
    tiers = (
        list(bench.BENCH_QUERIES)
        + list(bench.EXTENDED_QUERIES)
        + bench.core_tier(names)
    )
    assert sorted(tiers) == sorted(names)
    assert len(set(bench.BENCH_QUERIES) & set(bench.EXTENDED_QUERIES)) == 0


def test_bench_null_tier_totals_and_warm_floor_reps(monkeypatch):
    """r11 verdict item 1(b): unmeasured breadth tiers serialize as
    null (never 0), and every pass record carries the box health
    sampled around it."""
    import importlib.util
    import json
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(__file__))
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(root, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    src = open(os.path.join(root, "bench.py"), encoding="utf-8").read()
    # (b): both breadth totals go through _tier_total (null for an
    # unmeasured tier, never 0)
    assert '"extended_total": _tier_total(extended)' in src
    assert '"core_total": _tier_total(core)' in src
    assert "return round(sum(tier.values()), 3) if tier else None" in src
    assert bench._tier_total(None) is None and bench._tier_total({}) is None
    # the orchestrator must re-attach breadth tiers until a pass
    # carrying them SUCCEEDS, with one bounded retry
    assert "if not breadth_done" in src
    assert '"breadth-retry", "extended,core"' in src

    # a pass record carries health, whether the child succeeds or not
    def child(rc):
        def run(cmd, env, stdout, stderr):
            if rc == 0:
                with open(env["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
                    json.dump({"queries": {"q": 1.0}, "peak_rss_mb": 9.0}, fh)
            return subprocess.CompletedProcess(cmd, rc)
        return run

    for rc in (0, 1):
        monkeypatch.setattr(bench.subprocess, "run", child(rc))
        result, meta = bench.run_pass("1", "headline")
        assert meta["ok"] is (rc == 0) and (result is not None) is (rc == 0)
        assert {"healthy", "steal_pct", "load1_start"} <= set(meta["health"])
    full = bench.full_record([{"queries": {"q": 1.0}}], [meta])
    assert full["healthy"] is meta["health"]["healthy"]
    assert full["extended_total"] is None and full["core_total"] is None
    assert '"healthy":' in bench.compact_line(full)


def test_regression_gate_tiers():
    """The breadth tiers got two-sample medians in r13; the gate must
    be able to diff them round-over-round (BENCH_LOCAL_r{N}.json
    snapshots) with tier-scoped waivers — a mover fails with the
    tier's own waiver key, and the sf1 path is unchanged."""
    import json
    import os
    import subprocess
    import sys
    import tempfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with tempfile.TemporaryDirectory() as d:
        a, b = os.path.join(d, "a.json"), os.path.join(d, "b.json")
        with open(a, "w") as fh:
            json.dump({"core": {"q_slow": [2.0, 0.1], "q_ok": [1.0, 0.1]},
                       "sf1": {"q_slow": 2.0}}, fh)
        with open(b, "w") as fh:
            json.dump({"core": {"q_slow": [4.1, 0.1], "q_ok": [1.05, 0.1]},
                       "sf1": {"q_slow": 2.1}}, fh)
        gate = os.path.join(root, "tools", "sf1_regression_gate.py")
        r = subprocess.run(
            [sys.executable, gate, "--tier", "core", a, b],
            capture_output=True, text=True, cwd=root,
        )
        assert r.returncode == 1
        assert "q_slow" in r.stdout
        assert "core-regression-ok" in r.stderr  # tier-scoped waiver key
        # sf1 tier of the same pair: 1.05x mover is under threshold
        r2 = subprocess.run(
            [sys.executable, gate, "--tier", "sf1", a, b],
            capture_output=True, text=True, cwd=root,
        )
        assert r2.returncode == 0
        assert "no movers above threshold" in r2.stdout
