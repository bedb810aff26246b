"""Plan-shape guardrails: the physical-plan properties the 100 TB design
depends on, asserted so a refactor can't silently regress them.

These are the things `.explain("formatted")` reviews check by hand:
filters/projections reach the parquet scan, small dims broadcast, the
scan-side hot path has no Exchange, and the selector predicate compiles to
a pure Column (no Python in the plan).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_pushdown_and_pruning(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: text (the wide column) must NOT be read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema and "doc_id" in read_schema


def test_scan_hot_path_has_no_exchange(spark):
    """canonicalize+hash+filter (the per-URL scan work) must stay map-only:
    one pipeline, zero shuffles."""
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import with_url_hash

    seeds = spark.range(1000).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url")
    )
    plan = _plan(with_url_hash(seeds).where(F.col("url_hash") % 10 != 0))
    assert "Exchange" not in plan
    assert "codegen id" in plan  # formatted-mode WholeStageCodegen marker


def test_small_dims_broadcast(spark):
    """join_revenue's customer dim must broadcast (no shuffle of the fact
    side for that join)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_join_revenue(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan


def test_selector_compiles_to_pure_column(spark):
    """The selector predicate must contain no Python evaluation — it gates
    rows BEFORE the fetch UDF, so it has to be JVM-side."""
    from commoncrawl_fetcher_lite_spark.operators.selector import apply_selector

    df = spark.createDataFrame(
        [("https://a/x.pdf", "application/pdf", "200", None)],
        "url string, mime_detected string, status string, truncated string",
    )
    sel = {
        "must": {"status": [{"match": "200"}]},
        "should": {"mime_detected": [{"pattern": "pdf", "sample": 0.5}]},
    }
    plan = _plan(apply_selector(df, sel))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_frontier_antijoin_is_hash_keyed(spark):
    """URL-seen anti-join plan: join keys include the 8-byte url_hash (the
    co-partitioning key at scale)."""
    from commoncrawl_fetcher_lite_spark.frontier.urlseen import (
        filter_unseen,
        with_url_hash,
    )

    seeds = spark.range(1000).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url")
    )
    seen = with_url_hash(
        spark.range(0, 1000, 3).select(
            F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url")
        )
    )
    plan = _plan(filter_unseen(seeds, seen))
    assert "LeftAnti" in plan and "url_hash" in plan


def test_politeness_joins_size_gated(spark, tmp_path_factory):
    """Host-keyed dim joins (robots, host_state) must broadcast ONLY when
    stats prove them small: a robots table over the broadcast threshold
    plans as a shuffle join (no driver/executor materialization at the
    10^7-host scale), a small one still broadcasts (VERDICT r2 #2)."""
    from commoncrawl_fetcher_lite_spark.frontier.politeness import (
        apply_robots,
        refill_tokens,
    )

    d = str(tmp_path_factory.mktemp("gate"))
    cands = spark.createDataFrame(
        [("https://h0/x", "h0")], "url string, host string"
    )
    small = spark.range(50).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        F.array(F.lit("/private/")).alias("disallow_prefixes"),
        F.lit(None).cast("double").alias("crawl_delay_s"),
    )
    small.write.parquet(d + "/small")
    big = spark.range(30_000).select(
        F.concat(F.lit("h"), F.col("id")).alias("host"),
        F.array(F.concat(F.lit("/private-prefix-"), F.col("id"))).alias(
            "disallow_prefixes"
        ),
        F.lit(None).cast("double").alias("crawl_delay_s"),
    )
    big.write.parquet(d + "/big")

    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
        plan_small = _plan(apply_robots(cands, spark.read.parquet(d + "/small")))
        assert "BroadcastHashJoin" in plan_small
        plan_big = _plan(apply_robots(cands, spark.read.parquet(d + "/big")))
        assert "BroadcastHashJoin" not in plan_big
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big

        # same gate on the host_state refill join
        big_state = spark.range(30_000).select(
            F.concat(F.lit("hs"), F.col("id")).alias("host"),
            (F.col("id") * 1.0).alias("tokens"),
        )
        big_state.write.parquet(d + "/state")
        plan_state = _plan(
            refill_tokens(
                spark.read.parquet(d + "/state"),
                cands.select("host"),
                60.0,
                1.0,
                10,
                100,
            )
        )
        assert "BroadcastHashJoin" not in plan_state
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_lsh_neardup_candidate_exchanges_are_skinny(spark):
    """lsh_neardup_pairs' scale contract: the (rot, bucket) self-join and
    the pair dedup shuffle ONLY int rows — the vector column crosses an
    exchange at most in the two final fetch joins (and never the
    candidate-generation ones). Mirrors the frontier diet audit."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import (
        lsh_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("v")
    )
    # at sf0.01 every join broadcasts (no exchanges to audit) — disable
    # broadcast to see the shuffle shape a 100 TB corpus would plan
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(
            lsh_neardup_pairs(emb, threshold=0.4, n_planes=3, n_rotations=12)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
    lines = plan.splitlines()
    vec_exchanges = skinny_exchanges = 0
    for i, ln in enumerate(lines):
        if ") Exchange" not in ln:
            continue
        for follow in lines[i + 1 : i + 4]:
            if follow.strip().startswith("Input"):
                if "v#" in follow or "va#" in follow or "vb#" in follow:
                    vec_exchanges += 1
                elif "rot#" in follow or "id_a#" in follow or "id_b#" in follow:
                    skinny_exchanges += 1
                break
    # the two payload fetch joins + the intermediate (pairs ⋈ va) that the
    # second chained join must shuffle; candidate generation contributes 0
    # (at real scale the deduped pair set is sparse vs the corpus, so AQE
    # broadcast-converts these — sf0.01 proves that: zero exchanges at the
    # default threshold)
    assert vec_exchanges <= 3, plan
    assert skinny_exchanges >= 3, plan  # self-join (x2) + dedup stay int-only


def test_bucketed_seen_antijoin_no_state_exchange(spark, tmp_path_factory):
    """Bucketed URL-seen (frontier/bucketed.py): after the one-time
    bucketBy write, the steady-state anti-join must shuffle ONLY the
    candidate side — the seen scan feeds its join tasks directly. At the
    10^10-row target this removes the loop's dominant recurring shuffle."""
    from commoncrawl_fetcher_lite_spark.frontier.bucketed import (
        filter_unseen_bucketed,
        write_seen_bucketed,
    )

    d = str(tmp_path_factory.mktemp("bucketed"))
    seen = spark.range(20_000).select((F.col("id") * 2).alias("url_hash"))
    write_seen_bucketed(
        spark, seen, table="t_seen_bucketed", n_buckets=8, path=d + "/seen"
    )
    cands = spark.range(3_000).select(
        F.col("id").alias("url_hash"),
        F.concat(F.lit("https://h/"), F.col("id")).alias("url"),
    )
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = filter_unseen_bucketed(spark, cands, table="t_seen_bucketed")
        plan = _plan(out)
        assert plan.count(") Exchange") == 1, plan  # candidates only
        got = {r["url_hash"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql("DROP TABLE IF EXISTS t_seen_bucketed")
    assert got == {i for i in range(3_000) if i % 2 == 1}


def test_bucketed_exact_variant_survives_hash_collision(spark, tmp_path_factory):
    """filter_unseen_bucketed_exact must keep a candidate whose url_hash
    collides with a DIFFERENT seen url (the hash-only variant drops it),
    and its plan must still leave the bucketed seen scan exchange-free."""
    from commoncrawl_fetcher_lite_spark.frontier.bucketed import (
        filter_unseen_bucketed,
        filter_unseen_bucketed_exact,
        write_seen_bucketed,
    )

    d = str(tmp_path_factory.mktemp("bucketed_exact"))
    seen = spark.createDataFrame(
        [(5, "https://seen/a"), (9, "https://seen/b")],
        "url_hash long, url string",
    )
    write_seen_bucketed(
        spark, seen, table="t_seen_exact", n_buckets=4, path=d + "/seen"
    )
    cands = spark.createDataFrame(
        [
            (5, "https://seen/a"),      # truly seen -> dropped by both
            (5, "https://collide/x"),   # hash collision -> exact keeps it
            (7, "https://fresh/y"),     # unseen -> kept by both
        ],
        "url_hash long, url string",
    )
    try:
        exact = filter_unseen_bucketed_exact(spark, cands, table="t_seen_exact")
        hashonly = filter_unseen_bucketed(spark, cands, table="t_seen_exact")
        assert {r["url"] for r in exact.collect()} == {
            "https://collide/x",
            "https://fresh/y",
        }
        assert {r["url"] for r in hashonly.collect()} == {"https://fresh/y"}
        # the probe join (the function's stage 1 — hash-only key, string
        # verify deferred past a checkpoint precisely so Catalyst can't
        # fold it into the join keys) must use the bucketed scan: no
        # Exchange above the seen table
        orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            seen_side = spark.table("t_seen_exact").select(
                "url_hash", F.col("url").alias("_seen_url")
            )
            probe_plan = _plan(
                cands.select("url_hash", "url").join(seen_side, "url_hash")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        assert "Bucketed: true" in probe_plan, probe_plan
        assert probe_plan.count(") Exchange") == 1, probe_plan  # cands only
    finally:
        spark.sql("DROP TABLE IF EXISTS t_seen_exact")


def test_spread_for_compute_never_narrows(spark):
    """VERDICT r4 #1: spread_for_compute must honor its own contract — a
    wide input (more partitions than defaultParallelism, the 100 TB scan
    shape) keeps its layout through the compute-staging helper and through
    the shingle/simhash call sites; only narrow inputs get widened."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import spread_for_compute
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        shingle_frame,
        with_simhash,
    )

    default = spark.sparkContext.defaultParallelism
    wide_n = max(200, default * 4)
    wide = spark.range(0, 10_000, 1, wide_n).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon doc "), F.col("id")).alias(
            "text"
        ),
    )
    assert wide.rdd.getNumPartitions() == wide_n
    # helper itself: wide stays wide (and is the SAME plan — no shuffle)
    assert spread_for_compute(wide).rdd.getNumPartitions() == wide_n
    assert "Exchange" not in _plan(spread_for_compute(wide))
    # call sites: the CPU stages inherit the full width
    assert shingle_frame(wide).rdd.getNumPartitions() >= wide_n
    assert with_simhash(wide).rdd.getNumPartitions() >= wide_n
    # narrow inputs still get spread to cluster width
    narrow = wide.coalesce(1)
    assert spread_for_compute(narrow).rdd.getNumPartitions() == default


def test_spread_for_compute_probe_starts_no_job(spark):
    """VERDICT r7 #5: the width probe reads the planned physical plan.
    `.rdd` on a shuffled frame would make AQE run every stage below it,
    and the caller's query would then run them again."""
    from commoncrawl_fetcher_lite_spark.functions.letbind import spread_for_compute

    sc = spark.sparkContext
    default = sc.defaultParallelism
    base = spark.range(0, 1000, 1, 2)
    small = spark.range(0, 10).withColumnRenamed("id", "k")
    shuffled = base.groupBy((F.col("id") % 7).alias("k")).count()
    frames = {
        # planned hash partitioning (spark.sql.shuffle.partitions)
        "aggregate": (shuffled, spark.conf.get("spark.sql.shuffle.partitions")),
        "narrow shuffle": (base.repartition(1), 1),
        # broadcast join streamed over a 2-partition scan, and a union
        "broadcast join": (
            base.withColumnRenamed("id", "k").join(F.broadcast(small), "k"), 2
        ),
        "union": (base.select("id").union(shuffled.select("k")), None),
    }
    for name, (df, width) in frames.items():
        sc.setJobGroup(f"probe-{name}", name)
        try:
            out = spread_for_compute(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(f"probe-{name}") == [], name
        spread = out is not df
        if width is not None:
            assert spread == (int(width) < default), name


def test_semdedup_pair_stage_ships_vectors_once(spark):
    """VERDICT r5 #5: the within-cell quadratic must not be a
    vector-carrying self-join. Plan shape of _cell_pairs: exactly ONE
    Exchange (hashpartitioning on cell) feeding a grouped pandas stage,
    and no join operator anywhere — each (id, vec) row is shuffled once,
    the quadratic happens inside the task as a blocked matmul."""
    from commoncrawl_fetcher_lite_spark.operators.similarity import _cell_pairs

    cells = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.col("id").cast("double") + i for i in range(4)]).alias("v"),
        (F.col("id") % 4).alias("cell"),
    )
    pairs = _cell_pairs(cells, tau=0.99, corpus_id="vec_id", corpus_vec="v")
    plan = _plan(pairs)
    tree = plan.split("\n\n")[0]  # the operator tree (details repeat names)
    assert "FlatMapGroupsInPandas" in tree
    assert tree.count("Exchange") == 1
    assert "Join" not in plan
    pairs.collect()  # and it executes


def test_pick_n_buckets_sizing():
    """Computed bucket-count default (VERDICT r4 #8): ~1 GiB buckets,
    power-of-two, floor of 8; the 10^10-row crawl target lands at 1024
    (or 4096 with the ~200 MB buckets the docstring's historical
    hand-picked example implied)."""
    from commoncrawl_fetcher_lite_spark.frontier.bucketed import pick_n_buckets

    assert pick_n_buckets(0) == 8
    assert pick_n_buckets(10_000) == 8  # tiny set -> floor
    assert pick_n_buckets(10**10) == 1024
    assert pick_n_buckets(10**10, target_bucket_bytes=200 << 20) == 4096
    # powers of two only, monotone in n_rows
    prev = 0
    for n in (10**6, 10**8, 10**9, 10**10, 10**11):
        b = pick_n_buckets(n)
        assert b & (b - 1) == 0
        assert b >= prev
        prev = b


def test_incremental_neardup_corpus_side_is_semi_gated(spark):
    """incremental_neardup's scale contract: the corpus contributes
    shingles ONLY for docs matched by the bucket join — the physical
    plan of the dup output must gate the corpus scan behind a LeftSemi
    join (point reads), and the batch-vs-state candidate join must be a
    hash equi-join on the (band_id, band_hash) key pair, never a
    nested-loop."""
    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
        lsh_bucket_frame,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"w{i}x"), (F.col("id") % 7).cast("string"))
              for i in range(12)],
        ).alias("text"),
    )
    corpus = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    state = lsh_bucket_frame(corpus, bands=8, num_perm=32).localCheckpoint(
        eager=True
    )
    dups, _ = incremental_neardup(
        batch, state, corpus, bands=8, num_perm=32, threshold=0.5
    )
    plan = _plan(dups)
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "band_hash" in plan  # candidate join keyed on the band pair



def test_incremental_neardup_scans_state_once(spark, tmp_path):
    """The batch-vs-state candidate pairs feed both the matched-corpus
    semi-join and the verify; they are materialized once, so a parquet
    state table is scanned once in all — counted over the SQL executions
    incremental_neardup runs and the formatted plan of its dup output.
    The scan that runs is a hash equi-join probe on the band pair."""
    import re

    from commoncrawl_fetcher_lite_spark.operators.dedup import (
        incremental_neardup,
        lsh_bucket_frame,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(f"w{i}x"), (F.col("id") % 7).cast("string"))
              for i in range(12)],
        ).alias("text"),
    )
    corpus = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    path = str(tmp_path / "state")
    lsh_bucket_frame(corpus, bands=8, num_perm=32).write.parquet(path)
    state_scan = re.compile(
        r"^\(\d+\) Scan parquet.*\n(?:.*\n){0,3}"
        r"Location: InMemoryFileIndex \[file:" + re.escape(path) + r"\]",
        re.M,
    )

    sc = spark.sparkContext
    status = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        seq = status.executionsList()
        return [seq.apply(i) for i in range(seq.size())]

    before = max((e.executionId() for e in executions()), default=-1)
    dups, _ = incremental_neardup(
        batch, spark.read.parquet(path), corpus, bands=8, num_perm=32,
        threshold=0.5,
    )
    ran = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > before
    ]
    probes = [p for p in ran if state_scan.search(p)]
    assert sum(len(state_scan.findall(p)) for p in ran + [_plan(dups)]) == 1
    assert all(
        "band_hash" in p and "NestedLoop" not in p and "Cartesian" not in p
        for p in probes
    )
    assert dups.count() == 20  # each odd doc duplicates an even one


def test_fetch_reads_the_index_twice(spark, fixture_t1):
    """run_fetch with a maxRecords budget reads every index gzip twice in
    all: once for the per-file stats, once for the parse. Measured as the
    stage input records its jobs add; a selector that matches nothing keeps
    local-checkpoint block reads (which count as input records too) out of
    the sum."""
    import gzip

    from commoncrawl_fetcher_lite_spark.config import ExtractorConfig
    from commoncrawl_fetcher_lite_spark.plans.fetch_pipeline import run_fetch

    sc = spark.sparkContext
    jsc, jvm = sc._jsc.sc(), sc._jvm

    def stages():
        jsc.listenerBus().waitUntilEmpty()
        seq = jsc.statusStore().stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    raw_lines = 0
    for p in fixture_t1.index_paths:
        with gzip.open(p, "rb") as f:
            data = f.read()
        raw_lines += data.count(b"\n") + (not data.endswith(b"\n"))

    cfg = ExtractorConfig(
        index_paths=(fixture_t1.paths_gz,),
        selector={"must": {"status": [{"match": "999"}]}},
        max_records=500,
    )
    before = max((s.stageId() for s in stages()), default=-1)
    res = run_fetch(spark, cfg, path_resolver=lambda f: f)
    read = sum(s.inputRecords() for s in stages() if s.stageId() > before)
    assert res.would_extract.count() == 0
    assert read == 2 * raw_lines


def test_dedup_clusters_runs_no_count_job(spark, monkeypatch):
    """Each dedup_clusters round reads its change count from an
    Observation on the round's checkpoint job, not from a count() job of
    its own. A 12-node path needs at least 3 rounds."""
    import pyspark.sql.classic.dataframe as classic

    from commoncrawl_fetcher_lite_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )

    def no_count(self):
        raise AssertionError("dedup_clusters ran a count() job")

    monkeypatch.setattr(classic.DataFrame, "count", no_count)
    labels = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert labels == {i: 0 for i in range(12)}


def test_run_iteration_quota_cap_runs_no_job(
    spark, fixture_t1, monkeypatch, tmp_path
):
    """run_iteration derives the literal quota cap from its
    FrontierConfig and batch length, not from a first() over the
    refilled token frame."""
    import pyspark.sql.classic.dataframe as classic

    from commoncrawl_fetcher_lite_spark.config import FrontierConfig
    from commoncrawl_fetcher_lite_spark.frontier.checkpoint import SnapshotStore
    from commoncrawl_fetcher_lite_spark.frontier.scheduler import (
        bootstrap,
        run_iteration,
    )

    store = SnapshotStore(str(tmp_path / "snap"), spark)
    bootstrap(
        store,
        spark.read.parquet(f"{fixture_t1.root}/seeds.parquet").limit(500),
        spark.read.parquet(f"{fixture_t1.root}/robots.parquet"),
    )

    def no_first(self):
        raise AssertionError("run_iteration ran a first() job")

    monkeypatch.setattr(classic.DataFrame, "first", no_first)
    res = run_iteration(
        store, FrontierConfig(n_salt=4, default_burst=0), batch_seconds=2.0
    )
    assert res.n_scheduled > 0
