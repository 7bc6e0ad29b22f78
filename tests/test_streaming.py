"""Streaming twins must agree with their batch counterparts — the
semantics contract (SURVEY §2.10 streaming plan)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iq_to_hdl_migration_spark.queries import load_all
from iq_to_hdl_migration_spark.streaming import windows as W

REGISTRY = load_all()


def test_streaming_hourly_matches_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    # compare on epoch micros server-side: collecting a raw TIMESTAMP
    # renders it in the client OS timezone (round-5 TZ sweep finding)
    stream = (W.streaming_hourly_counts(spark, sf_dir, "t_hourly")
              .select(F.unix_micros("hour_ts").alias("hour_us"),
                      "event_type", "n_events").collect())
    batch = REGISTRY["events_hourly_by_type"].fn(spark, sf_dir).collect()
    s = {(r.hour_us, r.event_type): r.n_events for r in stream}
    b = {(r.hour_us, r.event_type): r.n_events for r in batch}
    assert s == b and len(s) > 0


def test_streaming_sessionization_matches_batch(spark, sf_dir):
    stream = W.streaming_sessionization(spark, sf_dir, "t_sess").collect()
    batch = REGISTRY["events_sessionization"].fn(spark, sf_dir).collect()
    s = {r.user_id: (r.n_sessions, r.n_events) for r in stream}
    b = {r.user_id: (r.n_sessions, r.n_events) for r in batch}
    assert s == b and len(s) > 0


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir):
    from iq_to_hdl_migration_spark.sources.tables import load_table
    from iq_to_hdl_migration_spark.streaming.windows import (
        streaming_dedup_count)
    streamed = streaming_dedup_count(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").dropDuplicates(["event_id"])
    assert streamed.count() == batch.count()
    assert streamed.select("event_id").distinct().count() == streamed.count()


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Two-phase arrival with a re-send of old rows: the second run
    resumes from the checkpoint, emits only the genuinely-new rows,
    and the sink ends with zero duplicates."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    from iq_to_hdl_migration_spark.sources.tables import load_table
    raw = load_table(spark, sf_dir, "events")
    split_id = raw.approxQuantile("event_id", [0.5], 0.0)[0]
    phase1 = raw.filter(F.col("event_id") <= split_id)
    phase2_new = raw.filter(F.col("event_id") > split_id)

    phase1.write.mode("append").parquet(src)
    W.incremental_dedup_to_parquet(spark, src, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    assert n1 == phase1.count()

    # phase 2: new rows plus a re-send of 100 old (already-sunk) rows —
    # the resumed watermark/dedup state must reject the re-sends
    phase2_new.write.mode("append").parquet(src)
    phase1.limit(100).write.mode("append").parquet(src)
    W.incremental_dedup_to_parquet(spark, src, sink, ckpt)

    out = spark.read.parquet(sink)
    assert out.count() == raw.count()                      # no loss
    assert out.select("event_id").distinct().count() == raw.count()  # no dupes


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join == the same predicate as a batch
    join (every purchase x same-user clicks in the prior hour)."""
    import pyspark.sql.functions as F
    from iq_to_hdl_migration_spark.sources.tables import load_table

    got = W.streaming_purchase_click_join(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events")
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "event_id", "ts"))
    want = purchases.join(
        clicks,
        F.expr("user_id = c_user AND "
               "ts BETWEEN click_ts AND click_ts + INTERVAL 1 HOUR"))

    assert got.count() == want.count()
    key = lambda r: (r["event_id"], r["click_id"])
    assert (sorted(map(key, got.collect()))
            == sorted(map(key, want.select("event_id", "click_id").collect())))


def test_streaming_incremental_dedup_equals_batch(spark, sf_dir):
    """The micro-batched incremental dedup (foreachBatch over an
    arrival stream, index extended per batch) must emit EXACTLY the
    single-shot batch result — pair set and estimates — regardless of
    micro-batch partitioning (3 files here vs one batch)."""
    from iq_to_hdl_migration_spark.queries import load_all

    reg = load_all()
    got = sorted(
        tuple(r) for r in
        reg["stream_incremental_dedup"].fn(spark, sf_dir).collect())
    want = sorted(
        tuple(r) for r in
        reg["dedup_incremental_pairs"].fn(spark, sf_dir)
        .select("id_a", "id_b", "est_jaccard").collect())
    assert got == want and len(got) > 0


def test_tws_user_spend_equals_batch(spark, sf_dir):
    """transformWithStateInPandas twin == batch per-user purchase
    totals. Skips where the protobuf runtime the state server needs is
    absent (this container); runs on a full install."""
    import pytest

    if not W.tws_available():
        pytest.skip("protobuf runtime absent: transformWithState "
                    "state server cannot start in this container")
    import pyspark.sql.functions as F
    from iq_to_hdl_migration_spark.sources.tables import load_table

    got = sorted(map(tuple, W.streaming_user_spend_tws(spark, sf_dir)
                     .collect()))
    ev = load_table(spark, sf_dir, "events")
    want = sorted(map(tuple, (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").cast("bigint").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_purchases"),
             F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
             .cast("bigint").alias("spend_cents"))).collect()))
    assert got == want


def test_scd2_state_survives_restart(spark, sf_dir, tmp_path):
    """The CDC contract: land half the events, drain, STOP; land the
    rest, drain again over the SAME checkpoint. Per-user open runs
    must carry across the restart in state, so the union of both
    drains' closed rows equals the batch SCD2 history's closed rows
    over the full dataset — no duplicates, no holes at the seam."""
    import pyspark.sql.functions as F

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.sources.tables import load_table
    from iq_to_hdl_migration_spark.streaming.windows import scd2_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    split_us = ev.agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP "
               "(ORDER BY unix_micros(ts))")).collect()[0][0]
    land = tmp_path / "land"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = ev.schema

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("recursiveFileLookup", "true")
                  .parquet(str(land)))
        q = (scd2_stream(stream)
             .writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    (ev.where(F.unix_micros("ts") <= split_us)
     .coalesce(1).write.parquet(str(land / "batch1")))
    drain()
    n_first = spark.read.parquet(sink).count()
    (ev.where(F.unix_micros("ts") > split_us)
     .coalesce(1).write.parquet(str(land / "batch2")))
    drain()

    got = spark.read.parquet(sink)
    n_total = got.count()
    assert 0 < n_first < n_total, "both drains must emit closed rows"

    batch = (load_all()["scd2_user_type_history"].fn(spark, sf_dir)
             .where(F.col("valid_to_us").isNotNull())
             .select("user_id", "version", "event_type",
                     "valid_from_us", "valid_to_us", "n_events"))
    sym_diff = (got.select(*batch.columns).exceptAll(batch)
                .unionAll(batch.exceptAll(got.select(*batch.columns))))
    assert sym_diff.count() == 0, \
        "restarted streaming history must equal the batch history"


class _Fold:
    """One snapshot fold under tmp_path: arrivals, snapshot chain and
    checkpoint dirs, seeded with `init` as the 00000_init snapshot —
    a state schema (an empty snapshot) or a state DataFrame."""

    def __init__(self, spark, tmp_path, init) -> None:
        import os

        self.spark, self.tmp_path = spark, tmp_path
        self.arrivals = str(tmp_path / "arrivals")
        self.snaps = str(tmp_path / "snaps")
        self.ckpt = str(tmp_path / "ckpt")
        os.makedirs(self.arrivals)
        os.makedirs(self.snaps)
        if isinstance(init, str):
            init = spark.createDataFrame([], init)
        init.write.parquet(os.path.join(self.snaps, "00000_init"))

    def arrive(self, df, i: int) -> None:
        """Land `df` as single-file arrival i (mtimes follow i)."""
        import os

        tmp = str(self.tmp_path / f"slice_{i}")
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = os.path.join(self.arrivals, f"arr_{i:03d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    def drain(self, step) -> None:
        W.run_snapshot_fold(self.spark, self.arrivals, self.snaps,
                            self.ckpt, step)

    def latest(self) -> str:
        import os

        return sorted(os.listdir(self.snaps))[-1]

    def final(self):
        import os

        return self.spark.read.parquet(
            os.path.join(self.snaps, self.latest()))

    def drain_in_two(self, df, id_col: str, step):
        """The restart contract: the first half of `df` by id arrives,
        the stream drains and STOPS; the rest arrives and a fresh start
        resumes from the same checkpoint. Returns the final snapshot."""
        cut = df.agg(F.expr(f"CAST(max({id_col}) / 2 AS BIGINT)")).first()[0]
        self.arrive(df.where(F.col(id_col) <= cut), 0)
        self.drain(step)
        assert self.latest() != "00000_init", (
            "first drain must write a snapshot")
        self.arrive(df.where(F.col(id_col) > cut), 1)
        self.drain(step)  # resumes
        return self.final()


def test_bottomk_snapshot_survives_restart(spark, sf_dir, tmp_path):
    """Two separate stream starts over one checkpoint: half the corpus
    arrives, the stream drains and STOPS; the rest arrives and a fresh
    start resumes from the checkpoint. The final snapshot must equal
    the single-shot batch bottom-k over the whole corpus — the
    snapshot chain, not the process, is the state."""
    from pyspark.sql import Window

    from iq_to_hdl_migration_spark.sources.tables import load_table

    k = 5
    docs = load_table(spark, sf_dir, "documents").select(
        "lang", F.col("doc_id").cast("bigint").alias("doc_id"),
        F.expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), "
               "16, 10) AS BIGINT)").alias("hv"))
    final = _Fold(spark, tmp_path, docs.limit(0)).drain_in_two(
        docs, "doc_id", W.bottomk_step(k))

    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    expect = (docs.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") <= k).drop("_rn"))
    got = sorted(tuple(r) for r in final.collect())
    want = sorted(tuple(r) for r in expect.collect())
    assert got == want, "restarted fold must equal the batch sample"


def test_basket_fold_survives_restart(spark, sf_dir, tmp_path):
    """Additive-support restart contract: half the ORDERS arrive (whole
    baskets — the atomicity the fold requires), the stream drains and
    STOPS; the rest arrives and a fresh start resumes from the same
    checkpoint. The folded supports must equal the single-shot batch
    supports over all orders — sums across disjoint order sets, no
    double counting at the seam."""
    from iq_to_hdl_migration_spark.queries.cooccurrence_queries import (
        basket_pair_supports)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    snap = _Fold(spark, tmp_path, "part_a bigint, part_b bigint, n bigint"
                 ).drain_in_two(li, "l_orderkey", W.basket_step)

    got_pairs = sorted(
        tuple(r) for r in snap.where(F.col("part_b").isNotNull())
        .select("part_a", "part_b", "n").collect())
    baskets = (li.groupBy("l_orderkey")
               .agg(F.sort_array(F.collect_set("l_partkey"))
                    .alias("parts")))
    want_pairs = sorted(
        tuple(r) for r in basket_pair_supports(baskets)
        .select("part_a", "part_b", F.col("n_ab").alias("n")).collect())
    assert got_pairs == want_pairs, (
        "restarted fold's pair supports must equal the batch supports")
    tot = snap.where(F.col("part_a").isNull()
                     & F.col("part_b").isNull()).collect()
    assert len(tot) == 1 and tot[0]["n"] == baskets.count(), (
        "order total must fold additively across the restart seam")


def test_ab_test_fold_survives_restart(spark, sf_dir, tmp_path):
    """OR-monoid restart contract: the first half of EVENTS arrives
    (users' purchases may sit in either half), the stream drains and
    STOPS; the rest arrives and a fresh start resumes from the same
    checkpoint. The folded per-user conversion state must equal the
    single-shot batch per-user state — max(is_conv) across the seam,
    no user lost or double-toggled."""
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    snap = _Fold(spark, tmp_path, "user_id bigint, is_conv int"
                 ).drain_in_two(ev, "event_id", W.ab_test_step)

    got = sorted(tuple(r) for r in snap.collect())
    want = sorted(tuple(r) for r in
                  ev.groupBy("user_id")
                  .agg(F.max(F.when(F.col("event_type") == "purchase", 1)
                             .otherwise(0)).cast("int").alias("is_conv"))
                  .collect())
    assert got == want, (
        "restarted fold's per-user conversion state must equal batch")


def test_boilerplate_gate_fold_survives_restart(spark, sf_dir, tmp_path):
    """Additive kept-count restart contract for the boilerplate gate:
    half the DOCUMENTS arrive (whole docs), the stream drains and
    STOPS; the rest arrives and a fresh start resumes from the same
    checkpoint. The folded per-source kept counts must equal the
    single-shot batch gate over all documents."""
    from iq_to_hdl_migration_spark.queries.corpus_queries import (
        _BP_MIN_DOCS, _BP_N, _TOKS_SPARK)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text")
    gs = (f"CASE WHEN size(t) >= {_BP_N} THEN "
          f"array_distinct(transform(sequence(1, size(t) - {_BP_N} + 1), "
          f"i -> concat_ws(' ', slice(t, i, {_BP_N})))) "
          f"ELSE array() END")
    boiler = (docs.select("doc_id", F.expr(_TOKS_SPARK).alias("t"))
              .withColumn("gs", F.expr(gs))
              .select("doc_id", F.explode_outer("gs").alias("g"))
              .where(F.col("g").isNotNull())
              .groupBy("g").agg(F.countDistinct("doc_id").alias("c"))
              .where(F.col("c") >= _BP_MIN_DOCS)
              .select("g").localCheckpoint())

    snap = _Fold(
        spark, tmp_path,
        "source string, n_docs_kept bigint, n_tokens_kept bigint"
    ).drain_in_two(docs, "doc_id",
                   W.boilerplate_gate_step(boiler, _BP_N, 50))
    got = sorted(tuple(r) for r in snap.collect())

    # single-shot batch gate over the whole corpus
    g = (docs.withColumn("t", F.expr(_TOKS_SPARK))
         .withColumn("nt", F.size("t").cast("bigint"))
         .withColumn("gs", F.expr(gs))
         .select("doc_id", "source", "nt",
                 F.size("gs").alias("n_sh"),
                 F.explode_outer("gs").alias("g")))
    hits = (g.join(boiler, "g").groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nb")))
    per = (g.select("doc_id", "source", "nt", "n_sh").distinct()
           .join(hits, "doc_id", "left")
           .withColumn("nb", F.coalesce("nb", F.lit(0))))
    want = sorted(tuple(r) for r in
                  per.where(F.col("nb") * 100 <= F.col("n_sh") * 50)
                  .groupBy("source")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_docs_kept"),
                       F.sum("nt").cast("bigint").alias("n_tokens_kept"))
                  .collect())
    assert got == want, "restarted gate fold must equal the batch gate"


def test_user_count_fold_survives_restart(spark, sf_dir, tmp_path):
    """Additive count-monoid restart contract for the Gini twin: the
    first half of EVENTS arrives (a user's events span the halves),
    the stream drains and STOPS; the rest arrives and a fresh start
    resumes from the same checkpoint. The folded per-user counts must
    equal the single-shot batch counts — summed across the seam, no
    user lost or double-counted."""
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    snap = _Fold(spark, tmp_path, "user_id bigint, n_events bigint"
                 ).drain_in_two(ev, "event_id",
                                W.keyed_count_step(["user_id"]))

    got = sorted(tuple(r) for r in snap.collect())
    want = sorted(tuple(r) for r in
                  ev.groupBy("user_id")
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
                  .collect())
    assert got == want, (
        "restarted fold's per-user counts must equal the batch counts")


def test_keyed_count_fold_survives_restart(spark, sf_dir, tmp_path):
    """Composite-key count restart contract (the step behind the type
    diversity, DAU/WAU, type-mix drift, Haar and Fano twins): per-(user,
    type) counts folded across the restart must equal the batch counts,
    and the final snapshot must feed the type-diversity tail to the
    single-shot batch report."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        diversity_from_type_counts, events_user_type_diversity)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    keys = ["user_id", "event_type"]
    ev = load_table(spark, sf_dir, "events").select("event_id", *keys)
    snap = _Fold(spark, tmp_path,
                 "user_id bigint, event_type string, n_events bigint"
                 ).drain_in_two(ev, "event_id", W.keyed_count_step(keys))

    got = sorted(tuple(r) for r in snap.collect())
    want = sorted(tuple(r) for r in
                  ev.groupBy(*keys)
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
                  .collect())
    assert got == want, (
        "restarted fold's per-key counts must equal the batch counts")
    got = sorted(tuple(r) for r in
                 diversity_from_type_counts(snap).collect())
    want = sorted(tuple(r) for r in
                  events_user_type_diversity(spark, sf_dir).collect())
    assert got == want


def test_retention_fold_survives_restart(spark, sf_dir, tmp_path):
    """MIN/OR monoid restart contract for the retention twin: half the
    events arrive (signups and activity span the seam), the stream
    drains and STOPS; the rest arrives and a fresh start resumes from
    the same checkpoint. The folded state's cohort matrix must equal
    the single-shot batch computation — no user's cohort lost, no
    active week dropped or double-ORed."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        events_retention_cohorts)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type")
    snap = _Fold(spark, tmp_path, W.RETENTION_STATE_SCHEMA).drain_in_two(
        ev, "event_id", W.retention_step)

    got = sorted(tuple(r) for r in
                 W.retention_from_state(snap).collect())
    want = sorted(tuple(r) for r in
                  events_retention_cohorts(spark, sf_dir).collect())
    assert got == want, (
        "restarted retention fold must equal the batch cohort matrix")


def test_retention_fold_rejects_out_of_range_weeks(spark):
    """The one-BIGINT mask bound is enforced, not assumed: an event
    past week 62 — or ANY pre-epoch event, including the -6..-1 day
    range whose week truncates to 0 (the r11 review hole) — must
    raise in the delta computation instead of silently entering the
    mask."""
    import pytest

    for ts in ("2026-01-01 00:00:00",   # week > 62
               "2023-12-31 23:00:00"):  # datediff -1: truncates to 0
        bad = spark.createDataFrame(
            [(1, 7, ts, "click")],
            "event_id bigint, user_id bigint, ts string, "
            "event_type string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(Exception, match="retention fold supports"):
            W._retention_delta(bad).collect()



def test_bot_fold_survives_restart(spark, sf_dir, tmp_path):
    """Seam-carrying fold restart contract: the boundary gap between
    the two halves must be closed exactly once — the restarted fold's
    per-user state must reproduce the single-shot batch report,
    including gaps that span the arrival seam AND the restart."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        bot_report_from_counts, events_bot_score_report)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts")
    snap = _Fold(spark, tmp_path, W.BOT_STATE_SCHEMA).drain_in_two(
        ev, "event_id", W.bot_step)

    got = sorted(tuple(r) for r in
                 bot_report_from_counts(snap.drop("last_us")).collect())
    want = sorted(tuple(r) for r in
                  events_bot_score_report(spark, sf_dir).collect())
    assert got == want


def _assert_refuses_late_batch(spark, tmp_path, state, late, step):
    """Drive the REAL fold over carried `state` and one `late` batch
    whose events predate the carried last_us: the in-plan guard must
    raise, which also proves it survives column pruning."""
    fold = _Fold(spark, tmp_path, state)
    fold.arrive(late.withColumn("ts", F.col("ts").cast("timestamp")), 0)
    with pytest.raises(Exception, match="not time-contiguous"):
        fold.drain(step)


def test_bot_fold_refuses_out_of_order_batch(spark, tmp_path):
    """The ordered-fold contract is enforced in-plan BY THE REAL FOLD:
    a batch whose events predate a user's carried last_us must raise
    (driving the bot step through run_snapshot_fold itself proves the
    guard survives column pruning)."""
    state = spark.createDataFrame(
        [(7, 3, 2, 0, 0, 1_800_000_000_000_000)],  # ~2027 in micros
        W.BOT_STATE_SCHEMA)
    # the 2024 event predates the carried ~2027 last_us -> must raise
    late = spark.createDataFrame(
        [(99, 7, "2024-01-01 00:00:01", )],
        "event_id bigint, user_id bigint, ts string")
    _assert_refuses_late_batch(spark, tmp_path, state, late, W.bot_step)


def test_gap_hist_fold_survives_restart(spark, sf_dir, tmp_path):
    """Second seam-carrying fold's restart contract: gaps that span
    the arrival seam AND the restart are closed exactly once — the
    resumed fold's histogram must reproduce the single-shot batch
    histogram bit-for-bit."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        events_gap_powerlaw_histogram)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    snap = _Fold(spark, tmp_path, W.GAP_HIST_STATE_SCHEMA).drain_in_two(
        ev, "event_id", W.gap_hist_step)

    got = sorted(tuple(r) for r in
                 (snap.where(F.col("gap_bucket").isNotNull())
                  .groupBy("event_type",
                           F.col("gap_bucket").alias("gap_bucket_log2s"))
                  .agg(F.sum("n_gaps").cast("bigint").alias("n_gaps"))
                  ).collect())
    want = sorted(tuple(r) for r in
                  events_gap_powerlaw_histogram(spark, sf_dir).collect())
    assert got == want


def test_gap_hist_fold_refuses_out_of_order_batch(spark, tmp_path):
    """The seam guard must fire in the REAL fold (not a re-built
    expression) — proving it survives column pruning."""
    state = spark.createDataFrame(
        [(7, "click", None, None, 1_800_000_000_000_000)],
        W.GAP_HIST_STATE_SCHEMA)
    late = spark.createDataFrame(
        [(99, 7, "click", "2024-01-01 00:00:01")],
        "event_id bigint, user_id bigint, event_type string, ts string")
    _assert_refuses_late_batch(spark, tmp_path, state, late,
                               W.gap_hist_step)


def test_funnel_fold_survives_restart(spark, sf_dir, tmp_path):
    """Ordered-funnel fold restart contract: stage chains that span
    the arrival seam AND the restart must resolve exactly once — the
    resumed fold reproduces the single-shot batch funnel."""
    from iq_to_hdl_migration_spark.queries.events_queries import (
        events_funnel_counts)
    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts")
    snap = _Fold(spark, tmp_path, W.FUNNEL_STATE_SCHEMA).drain_in_two(
        ev, "event_id", W.funnel_step)

    got = sorted(tuple(r) for r in
                 W.funnel_counts_from_state(snap).collect())
    want = sorted(tuple(r) for r in
                  events_funnel_counts(spark, sf_dir).collect())
    assert got == want


def test_funnel_fold_refuses_out_of_order_batch(spark, tmp_path):
    """The guard must survive column pruning: a batch predating a
    user's carried last_us raises through the consumed d_last_us."""
    state = spark.createDataFrame(
        [(7, 1_800_000_000_000_000, None, None, 1_800_000_000_000_000)],
        W.FUNNEL_STATE_SCHEMA)
    late = spark.createDataFrame(
        [(99, 7, "view", "2024-01-01 00:00:01")],
        "event_id bigint, user_id bigint, event_type string, ts string")
    _assert_refuses_late_batch(spark, tmp_path, state, late,
                               W.funnel_step)


def test_snapshot_chain_keeps_two_and_replays(spark, sf_dir, tmp_path):
    """Keep-2: after four batches the chain holds only the last
    snapshot and its prior. Deleting the checkpoint's last commit makes
    the next drain replay that batch from the kept prior snapshot, and
    the replay rewrites an equal final snapshot."""
    import os

    from iq_to_hdl_migration_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    step = W.keyed_count_step(["user_id", "event_type"])
    fold = _Fold(spark, tmp_path,
                 "user_id bigint, event_type string, n_events bigint")
    lo, hi = W._id_span(ev, "event_id")
    W._stage_id_sliced_arrivals(ev, "event_id", lo, hi, 4,
                                str(tmp_path), fold.arrivals)
    fold.drain(step)
    assert sorted(os.listdir(fold.snaps)) == ["00003_b", "00004_b"]

    def final_state():
        snap_dir = os.path.join(fold.snaps, fold.latest())
        parts = {f for f in os.listdir(snap_dir) if f.startswith("part-")}
        return parts, sorted(tuple(r) for r in fold.final().collect())

    parts, rows = final_state()
    commits = os.path.join(fold.ckpt, "commits")
    for f in ("3", ".3.crc"):     # the commit and its checksum file
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    fold.drain(step)     # replays batch 3 from 00003_b
    assert os.path.exists(os.path.join(commits, "3")), "batch 3 replayed"
    assert len(os.listdir(fold.snaps)) <= 2
    parts_again, rows_again = final_state()
    assert parts_again != parts, "the replay must rewrite the snapshot"
    assert rows_again == rows
    assert rows == sorted(
        tuple(r) for r in ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events")).collect())


# snapshot twin -> (source table, registry batch twin; None = oracle)
_SNAPSHOT_TWINS = {
    "stream_bottomk_sample": ("documents", "sample_bottomk_per_lang"),
    "stream_market_basket": ("lineitem", "orders_market_basket_lift"),
    "stream_ab_test": ("events", "events_ab_test_report"),
    "stream_boilerplate_gate": ("documents", None),
    "stream_user_gini": ("events", "events_poweruser_gini"),
    "stream_retention_cohorts": ("events", "events_retention_cohorts"),
    "stream_lifecycle_stages": ("events", "events_lifecycle_stages"),
    "stream_bot_score": ("events", "events_bot_score_report"),
    "stream_type_diversity": ("events", "events_user_type_diversity"),
    "stream_gap_histogram": ("events", "events_gap_powerlaw_histogram"),
    "stream_funnel_counts": ("events", "events_funnel_counts"),
    "stream_dau_wau": ("events", "events_dau_wau"),
    "stream_type_mix_drift": ("events", "events_type_mix_drift_tvd"),
    "stream_haar_energy": ("events", "events_haar_energy_profile"),
    "stream_fano_factor": ("events", "events_fano_factor_hourly"),
}


@pytest.mark.parametrize("twin", sorted(_SNAPSHOT_TWINS))
def test_snapshot_twin_on_empty_source(spark, sf_dir, tmp_path, twin):
    """Each snapshot twin over a corpus copy whose source table has 0
    rows (nothing to stream) must return the same columns and rows as
    its batch twin — the report tail runs on the empty snapshot."""
    import shutil

    import pyarrow.parquet as pq

    from iq_to_hdl_migration_spark.sources.tables import TABLES, table_path
    from tests.oracle import assert_matches_oracle

    source, batch = _SNAPSHOT_TWINS[twin]
    work = str(tmp_path)
    for t in TABLES:
        dst = f"{work}/{t}.parquet"
        if t == source:
            pq.write_table(pq.read_table(table_path(sf_dir, t)).slice(0, 0),
                           dst)
        else:
            shutil.copy(table_path(sf_dir, t), dst)

    spec = REGISTRY[twin]
    if batch is None:
        assert_matches_oracle(spark, spec.fn, spec.oracle, work, twin)
        return

    def cols_and_rows(df):
        cols = sorted(df.columns)
        return cols, sorted(tuple(r) for r in df.select(*cols).collect())

    got = cols_and_rows(spec.fn(spark, work))
    want = cols_and_rows(REGISTRY[batch].fn(spark, work))
    assert got == want
