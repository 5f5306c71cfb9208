"""Scale-path evidence tests: the mechanisms the 100 TB design leans on
(partition pruning, approximate distinct counts, watermarked late-data
handling) demonstrably work, not just appear in docstrings.

Reference analogs: monthly snapshot partitioning
(data_pipeline/pipeline_handler.py:343-354), nunique cohort counts
(data_pipeline/build_conversion_rate_analysis.py:373,478), overlapping
re-fetch windows as late-data tolerance (run_daily_pipeline.py:51-127).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from basin_climbing_data_pipeline_spark.io import load_table
from basin_climbing_data_pipeline_spark.plans.audit import formatted_plan


def test_partition_pruned_scan(spark, sf_dir, tmp_path):
    """A date-partitioned table read with a partition predicate must prune at
    planning time: the scan's PartitionFilters carries the predicate and only
    the matching partition's files are read."""
    target = str(tmp_path / "checkins_by_day")
    ck = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.to_date(F.col("ts")).alias("day"),
    )
    ck.write.mode("overwrite").partitionBy("day").parquet(target)

    days = [r["day"] for r in spark.read.parquet(target).select("day").distinct().collect()]
    assert len(days) > 1, "need multiple partitions to prove pruning"
    pick = sorted(days)[0]

    pruned = spark.read.parquet(target).filter(F.col("day") == F.lit(pick))
    plan = formatted_plan(pruned)
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf, plan
    # the equality predicate must ride in PartitionFilters (planning-time
    # directory pruning), not in PushedFilters (row-group filtering)
    assert "day" in pf.group(1) and str(pick) in pf.group(1), pf.group(1)
    assert pruned.count() == ck.filter(F.col("day") == F.lit(pick)).count()


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct (the documented at-scale path for A4 nunique
    aggregates) stays within 5% of the exact count per group."""
    ev = load_table(spark, sf_dir, "events")
    both = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), dict(r.asDict())


def test_watermark_drops_late_rows(spark, tmp_path):
    """Windowed streaming aggregation with a 10-minute watermark: a row
    arriving a batch later but hours behind the watermark must be dropped
    (the streaming analog of the reference's bounded re-fetch window —
    updates older than the window never land)."""
    src = str(tmp_path / "stream_src")
    out_table = "late_drop_test"
    (tmp_path / "stream_src").mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, "event_id string, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        # distinct mtimes keep file-source discovery order deterministic
        time.sleep(1.1)

    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    write_file("f1", [("a", t.replace(hour=10)), ("b", t.replace(hour=12))])

    stream = (
        spark.readStream.schema("event_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not q.recentProgress:
            time.sleep(0.5)
        # batch 2: one row 3h behind the 11:50 watermark (dropped), one row
        # that advances the watermark far enough to close earlier windows
        write_file("f2", [("late", t.replace(hour=9)), ("c", t.replace(hour=14))])
        deadline = time.time() + 120
        emitted = {}
        while time.time() < deadline:
            rows = spark.sql(f"SELECT * FROM {out_table}").collect()
            emitted = {r["window_start"]: r["n"] for r in rows}
            if t.replace(hour=12) in emitted:
                break
            time.sleep(1)
    finally:
        q.stop()

    # on-time windows from batch 1 emitted once closed
    assert emitted.get(t.replace(hour=10)) == 1
    assert emitted.get(t.replace(hour=12)) == 1
    # the 09:00 late row must NOT have produced a window
    assert t.replace(hour=9) not in emitted, emitted


def _py_simhash(text, bits):
    """Pure-Python SimHash with the engine's word and hash rules: distinct
    space-separated words after trimming spaces, empty tokens dropped,
    h32 = first 8 hex digits of md5; None when the text has no words."""
    import hashlib

    words = {w for w in (text or "").strip(" ").split(" ") if w}
    if not words:
        return None
    votes = [0] * bits
    for w in words:
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(bits) if votes[i] > 0)


def _degenerate_documents(path):
    """A small documents table built to stress the signature pairing:
    texts without words, a double-spaced twin, a four-document group with
    one word set (hamming 0 within the group), the same word set under
    other lang values (and NULL), and one-word edits of seeded random
    texts (near pairs at hamming 1-3)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    group = "red green blue cyan magenta yellow black white"
    rows = [
        (0, "", "en"),
        (1, "   ", "en"),
        (2, None, "en"),
        (3, "delta  epsilon  zeta", "en"),
        (4, "delta epsilon zeta", "en"),
        (10, group, "en"),
        (11, " ".join(reversed(group.split())), "en"),
        (12, group + " red red", "en"),
        (13, "  " + group + "  ", "en"),
        (20, group, "fr"),
        (21, group, "de"),
        (22, group, None),
    ]
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    for k in range(40):
        words = rng.sample(vocab, 12)
        lang = rng.choice(["en", "fr"])
        rows.append((100 + 2 * k, " ".join(words), lang))
        edited = words[:-1] + [rng.choice(vocab)]
        rows.append((101 + 2 * k, " ".join(edited), lang))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array([r[2] for r in rows], pa.string()),
                "source": pa.array(["src0"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1] or "") for r in rows], pa.int64()),
            }
        ),
        str(path / "documents.parquet"),
    )


@pytest.mark.parametrize("bits", [16, 32])
def test_simhash_pigeonhole_generalizes_to_wider_signatures(spark, sf_dir, tmp_path, bits):
    """The chunked candidate join must find exactly the pairs a brute-force
    all-pairs hamming scan finds, each (doc_a, doc_b) once — the pigeonhole
    guarantee is width-independent, which is what makes the corpus-derived
    width (simhash_bits_for) a drop-in scale path.  Runs on the shared
    corpus and on a degenerate one; building the query caches nothing."""
    from itertools import combinations

    from basin_climbing_data_pipeline_spark import io
    from basin_climbing_data_pipeline_spark.operators import dedup as dd

    _degenerate_documents(tmp_path)
    for corpus in (sf_dir, str(tmp_path)):
        io.release_caches()
        pairs = dd.simhash_near_pairs(spark, corpus, bits=bits)
        assert not io._TRACKED_CACHES
        got = [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()]
        assert len({(a, b) for a, b, _ in got}) == len(got)

        docs = load_table(spark, corpus, "documents").select("doc_id", "text", "lang")
        sigs = [
            (r["doc_id"], r["lang"], _py_simhash(r["text"], bits)) for r in docs.collect()
        ]
        sigs = sorted(s for s in sigs if s[2] is not None)
        want = []
        for (da, la, sa), (db, lb, sb) in combinations(sigs, 2):
            h = bin(sa ^ sb).count("1")
            if la is not None and la == lb and h <= dd.SIMHASH_MAX_HAMMING:
                want.append((da, db, h))
        assert got == sorted(want)

    by_pair = {(a, b): h for a, b, h in got}
    assert not {0, 1, 2} & {d for pair in by_pair for d in pair}
    assert by_pair[(3, 4)] == 0  # double spaces add no empty word
    group = set(combinations([10, 11, 12, 13], 2))
    assert all(by_pair[p] == 0 for p in group)
    # one word set, different lang values: never paired across langs
    assert not (set(combinations([10, 11, 12, 13, 20, 21, 22], 2)) - group) & set(by_pair)


def test_simhash_bits_scale_with_corpus():
    from basin_climbing_data_pipeline_spark.operators.dedup import simhash_bits_for

    # occupancy per chunk bucket stays bounded as the corpus grows
    assert simhash_bits_for(500) == 16
    assert simhash_bits_for(5_000) > 16
    assert simhash_bits_for(100_000) == 32  # capped by the 32-bit word hash
    for n in (10**4, 10**6):
        bits = simhash_bits_for(n)
        w = bits // 4
        if bits < 32:  # below the cap the occupancy bound must hold
            assert n / 2**w <= 64


def test_adaptive_simhash_matches_pinned_at_test_scale(spark, sf_dir):
    """At test scale the corpus-derived width lands exactly on the pinned
    SIMHASH_BITS, so the adaptive histogram must equal the pinned pair
    set's histogram — keeps the width derivation and the pinned harness
    from drifting apart silently."""
    from collections import Counter

    from basin_climbing_data_pipeline_spark.operators import dedup as dd

    derived = dd.simhash_bits_for(dd._corpus_docs(spark, sf_dir))
    assert derived == dd.SIMHASH_BITS  # 500-doc corpus -> 4 chunks x 4 bits
    pinned = Counter(
        r["hamming"] for r in dd.simhash_near_pairs(spark, sf_dir).collect()
    )
    adaptive = {
        r["hamming"]: r["n_pairs"]
        for r in dd.simhash_adaptive_near_pairs(spark, sf_dir).collect()
    }
    assert adaptive == dict(pinned)


def test_star_contraction_rounds_are_log_bounded_on_a_chain(spark):
    """The adversarial topology for connected components: a chain of n
    nodes (diameter n-1).  One-hop min-label propagation needs n rounds;
    the large-star/small-star contraction must finish in O(log n) — the
    property that keeps a 100-TB crawl-graph dedup inside a fixed job
    budget.  n=256 → one-hop would need 255 rounds; the bound here is 12
    (~1.5·log₂ n)."""
    from basin_climbing_data_pipeline_spark.operators import dedup as dd

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels, rounds = dd.alternating_star_labels(edges)
    assert rounds <= 12, f"star contraction took {rounds} rounds on a {n}-chain"
    rows = labels.collect()
    assert len(rows) == n
    assert all(r["label"] == 0 for r in rows)


def test_star_contraction_matches_onehop_on_random_graphs(spark):
    """Differential: both component algorithms must emit identical
    (node, label) maps on seeded random graphs — mixed component sizes,
    rings, stars, isolated pairs, non-contiguous ids."""
    import random

    from basin_climbing_data_pipeline_spark.operators import dedup as dd

    rng = random.Random(1234)
    for trial in range(3):
        ids = rng.sample(range(10_000), 120)
        pairs = []
        # random clumps
        for i in range(0, 100, 10):
            clump = ids[i : i + 10]
            pairs += [(a, rng.choice(clump)) for a in clump]
        # a ring and an isolated pair from the remainder
        ring = ids[100:115]
        pairs += list(zip(ring, ring[1:] + ring[:1]))
        pairs.append((ids[115], ids[116]))
        pairs = [(a, b) for a, b in pairs if a != b]
        pdf = spark.createDataFrame(pairs, "src long, dst long")
        edges = pdf.union(
            pdf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        star = {r["node"]: r["label"] for r in dd.propagate_min_labels(edges).collect()}
        onehop = {
            r["node"]: r["label"]
            for r in dd.propagate_min_labels_onehop(edges).collect()
        }
        assert star == onehop, f"trial {trial}: star vs one-hop diverged"


def test_customer_spend_deciles_sketch_default_agrees_with_exact(spark, sf_dir):
    """The shared decile entry point: the DEFAULT (sketch-cut) path and the
    exact-ntile opt-in must agree within the sketch's measured error —
    sketch_decile_assignment's accuracy columns bound per-customer
    disagreement, so per-decile rollup counts can differ by at most the
    total number of disagreeing customers and offsets stay within one
    decile."""
    from basin_climbing_data_pipeline_spark.operators.cohorts import (
        customer_spend_deciles,
    )
    from basin_climbing_data_pipeline_spark.operators.sketches import (
        sketch_decile_assignment,
    )

    exact = {r["decile"]: r.asDict() for r in
             customer_spend_deciles(spark, sf_dir, exact=True).collect()}
    sketch = {r["decile"]: r.asDict() for r in
              customer_spend_deciles(spark, sf_dir).collect()}
    acc = sketch_decile_assignment(spark, sf_dir).collect()

    n_total = sum(r["n_customers"] for r in acc)
    n_disagree = sum(r["n_customers"] - r["n_agree"] for r in acc)
    # the documented error bound: every sketch decile is within one of
    # exact, and disagreement is the boundary residue only — each of the
    # 9 cuts can shift a couple of ranks from in-bucket interpolation
    # (dominant at tiny n) or tie-straddle (the 1e9-row residue, <5%)
    assert max(r["max_offset"] for r in acc) <= 1
    assert n_disagree <= max(2 * 9, 0.05 * n_total)

    assert set(exact) == set(sketch) == set(range(1, 11))
    assert sum(v["n_customers"] for v in exact.values()) == sum(
        v["n_customers"] for v in sketch.values()
    )
    for d in range(1, 11):
        # a decile's size can shift only by customers that disagree
        assert abs(exact[d]["n_customers"] - sketch[d]["n_customers"]) <= n_disagree
        # shares of revenue track within the disagreement mass
        assert abs(exact[d]["pct_of_revenue"] - sketch[d]["pct_of_revenue"]) <= 5.0


def _theilsen_exact_reference(spark, sf_dir):
    """The pre-round-12 EXACT Theil-Sen: median of all pairwise slopes via
    one global single-partition Window.orderBy rank.  Kept here (not in the
    engine — the round-12 optimization made the registry query ride the
    range-partitioned rank) as the reference implementation the bucketed
    form must equal."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.functions.money import dec38, to_cents
    from basin_climbing_data_pipeline_spark.operators.transactions import (
        build_transactions,
    )

    txn = build_transactions(spark, sf_dir)
    daily = txn.groupBy("txn_date").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("cents")
    )
    d = daily.select(
        F.datediff(F.col("txn_date"), F.lit("1992-01-01").cast("date")).alias("x"),
        "cents",
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(b, F.col("a.x") < F.col("b.x")).select(
        F.col("a.x").alias("xi"),
        F.col("b.x").alias("xj"),
        (
            (F.col("b.cents") - F.col("a.cents")).cast("double")
            / (F.col("b.x") - F.col("a.x")).cast("double")
        ).alias("slope"),
    )
    w = Window.orderBy("slope", "xi", "xj")
    ranked = pairs.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n_pairs"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) div 2")
    ).select(F.col("slope").alias("ts_slope"), "n_pairs")
    mom = d.agg(
        F.count("*").alias("n_days"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("cents"))).alias("sy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("cents"))).alias("sxy"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
    )
    n = dec38(F.col("n_days"))
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    micro = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    ols = F.when(den != 0, num.cast("double") / den.cast("double"))
    return mom.join(F.broadcast(med)).select(
        "n_days",
        "n_pairs",
        micro(ols / 100.0).alias("ols_slope_per_day"),
        micro(F.col("ts_slope") / 100.0).alias("theilsen_slope_per_day"),
    )


def test_theilsen_bucketed_equals_exact(spark, sf_dir):
    """The range-partitioned Theil-Sen (theilsen_trend_bucketed, and since
    round 12 also theilsen_revenue_trend, which delegates to it) is the
    EXACT median computed without the single-partition global rank: the
    sign-aware log bucket is monotone in slope, so bucket order +
    within-bucket order IS the global order.  Approximation error bound:
    zero — equality, both engines, against the global-sort reference."""
    import duckdb

    from basin_climbing_data_pipeline_spark.operators.transactions import (
        theilsen_revenue_trend,
        theilsen_revenue_trend_sql,
        theilsen_trend_bucketed,
        theilsen_trend_bucketed_sql,
    )

    exact = _theilsen_exact_reference(spark, sf_dir).collect()[0]
    bucketed = theilsen_trend_bucketed(spark, sf_dir).collect()[0]
    assert tuple(exact) == tuple(bucketed)
    # the registry query now rides the bucketed path — same values
    assert tuple(theilsen_revenue_trend(spark, sf_dir).collect()[0]) == tuple(
        bucketed
    )

    con = duckdb.connect()
    for t in ("orders", "lineitem", "customer", "part", "nation", "region",
              "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    assert (
        con.execute(theilsen_revenue_trend_sql()).fetchall()
        == con.execute(theilsen_trend_bucketed_sql()).fetchall()
    )
