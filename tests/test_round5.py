"""Round-5 additions: composing two fuzzy-link pipelines in one session
(equal results, nothing cached), the in-kernel linking pipeline against
the extract → link → canonicalize → dedup composition, its plan shape and
named jobs, the bucket-partitioned-at-rest resume input (partition pruning
instead of B× full scans), and regressions for the round-4 advice fixes."""

import os
import re
import warnings
from collections import Counter

import pytest
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import (
    build_alias_edges,
    build_entity_catalog,
    build_gazetteer,
)
from quad_processor_util_spark.functions.nt import QUAD_FIELDS, dedup_quads_df
from quad_processor_util_spark.operators.cc import canonical_mapping
from quad_processor_util_spark.oracle import EX
from quad_processor_util_spark.plans.checkpoint import (
    run_checkpointed,
    write_bucketed_transcripts,
)
from quad_processor_util_spark.plans.pipeline import (
    canonicalize,
    extract_quads,
    link_unknown_mentions,
    run_pipeline,
)


@pytest.fixture(scope="module")
def pipe_data(spark, fixtures_dir):
    transcripts = spark.read.parquet(
        os.path.join(fixtures_dir, "transcripts.parquet"))
    catalog = build_entity_catalog()
    edges = spark.createDataFrame(build_alias_edges(42))
    return transcripts, catalog, edges


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_compose_two_pipelines_scoped_cache_release(spark, pipe_data):
    """Two fuzzy-link pipelines in one session: linking runs inside the
    extraction kernel, so nothing is persisted — `cache_registry` stays
    empty, the CacheManager is empty before, during and after each run,
    and the second run's results equal the first's."""
    transcripts, catalog, edges = pipe_data
    spark.catalog.clearCache()  # other module tests may have left entries
    assert _cache_manager_empty(spark)
    results = []
    for _ in range(2):
        registry = []
        final = run_pipeline(spark, transcripts, catalog, edges,
                             fuzzy_link=True, cache_registry=registry)
        assert _cache_manager_empty(spark)
        rows = frozenset(
            (r.subject, r.predicate, r.obj, r.datatype, r.language)
            for r in final.collect())
        assert registry == []
        assert _cache_manager_empty(spark)
        results.append(rows)
    assert results[0] == results[1]
    assert len(results[0]) > 100


def _identity(row) -> tuple:
    return tuple(row[:5])


def test_fuzzy_pipeline_equals_linked_composition(spark, pipe_data):
    """run_pipeline(fuzzy_link=True), which links and canonicalizes inside
    the extraction kernel, gives the same 5-field identity multiset as the
    composition it replaced: extract(emit_unknown=True) ->
    link_unknown_mentions -> canonicalize -> dedup_quads_df. Dedup keeps
    an arbitrary graph per identity and which one depends on row order, so
    each output row's graph must only be one that the composition's
    canonicalized rows carry for that identity (perfbench's verify_kg
    rule). The fixture transcripts mention only catalog forms, so a few
    turns with misspelled and unknown names are appended."""
    transcripts, catalog, edges = pipe_data
    typos = spark.createDataFrame(
        [("typo", i, "user", t, None) for i, t in enumerate([
            "I met Grace Hoper and Alan Turnig in Bostn.",
            "Grace Hoper works at Hopper Labs. Zzyzx Qwerty said hi.",
            "Ada Lovelase founded Hoppr Labs."])],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string")
    transcripts = transcripts.unionByName(typos, allowMissingColumns=True)
    got = run_pipeline(spark, transcripts, catalog, edges,
                       fuzzy_link=True).select(*QUAD_FIELDS).collect()
    gaz = build_gazetteer(catalog)
    quads = extract_quads(transcripts, gaz.surface_to_iri, emit_unknown=True)
    linked = link_unknown_mentions(quads, spark.createDataFrame(catalog))
    mapping, excluded = canonical_mapping(edges)
    canon = canonicalize(linked, mapping, excluded).collect()
    graphs: dict[tuple, set] = {}
    for r in canon:
        graphs.setdefault(_identity(r), set()).add((r.graph, r.dataset))
    assert Counter(map(_identity, got)) == Counter(list(graphs))
    assert all((r.graph, r.dataset) in graphs[_identity(r)] for r in got)
    assert any(len(g) > 1 for g in graphs.values())
    assert any(k[1] == EX + "mentions" for k in graphs)


def test_fuzzy_pipeline_plan_has_no_cache_or_link_join(spark, pipe_data):
    """The executed plan of run_pipeline(fuzzy_link=True) over a
    driver-sized alias graph: no InMemoryRelation/InMemoryTableScan,
    exactly one MapInArrow (extraction with linking and canonicalization
    inside), no join and no broadcast. Planned with AQE and auto-broadcast
    off, as in test_plan_contract.py, so only hinted broadcasts show."""
    transcripts, catalog, edges = pipe_data
    confs = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        final = run_pipeline(spark, transcripts, catalog, edges,
                             fuzzy_link=True)
        plan = final._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "InMemoryRelation" not in plan
    assert "InMemoryTableScan" not in plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Join" not in plan, plan
    assert "Broadcast" not in plan, plan


def test_run_pipeline_names_its_jobs(spark, pipe_data, fixtures_dir,
                                    tmp_path):
    """run_pipeline describes the jobs of its canonical_mapping and write
    steps after the step, and restores the caller's description. The edges
    are read from parquet: a local-relation edge frame costs
    canonical_mapping no job at all."""
    transcripts, catalog, _ = pipe_data
    edges = spark.read.parquet(os.path.join(fixtures_dir,
                                            "alias_edges.parquet"))
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def described(step):
        jobs = store.jobsList(None)  # a Scala Seq of JobData
        return sum(1 for i in range(jobs.size())
                   if jobs.apply(i).description().isDefined()
                   and jobs.apply(i).description().get()
                   == f"run_pipeline: {step}")

    before = {s: described(s) for s in ("canonical_mapping", "write")}
    sc.setJobDescription("caller")
    try:
        run_pipeline(spark, transcripts, catalog, edges,
                     out_path=str(tmp_path / "out"), fuzzy_link=True)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    assert described("canonical_mapping") > before["canonical_mapping"]
    assert described("write") > before["write"]


def _subtrees(plan: str, node: str) -> list[list[str]]:
    """The operator lines under each `node` in a formatted plan tree (a
    child's `+-`/`:-` connector sits right of its parent's)."""
    lines = plan.split("\n\n", 1)[0].splitlines()
    at = [m.start(1) if (m := re.match(r"[ :]*?([+:]-) ", ln)) else -1
          for ln in lines]
    out = []
    for i, ln in enumerate(lines):
        if re.search(rf"- {node} \(\d+\)", ln):
            sub = []
            for j in range(i + 1, len(lines)):
                if at[j] <= at[i]:
                    break
                sub.append(lines[j])
            out.append(sub)
    return out


def test_run_pipeline_write_waits_on_no_dimension_stages(
        spark, spark_jobs, pipe_data, fixtures_dir, tmp_path):
    """With a driver-sized alias graph read from parquet and transcripts
    split into more files than half the shuffle width, the write is one
    Python pass over the scan splits: its executed plan never scans the
    edges, has exactly one MapInArrow with no Exchange under it (no conv_id
    shuffle, no REPARTITION_BY_NUM re-spread) and no BroadcastExchange. A
    whole run_pipeline(out_path=...) is 3 Spark jobs: the one bounded edge
    collect, the scan → MapInArrow → partial-aggregate stage and the
    final stage."""
    transcripts, catalog, _ = pipe_data
    edges = spark.read.parquet(os.path.join(fixtures_dir,
                                            "alias_edges.parquet"))
    split = str(tmp_path / "transcripts")
    transcripts.repartition(8).write.parquet(split)
    transcripts = spark.read.parquet(split)
    _, jobs, plans = spark_jobs(lambda: run_pipeline(
        spark, transcripts, catalog, edges, out_path=str(tmp_path / "out"),
        fuzzy_link=True))
    write = [p for d, p in plans if d == "run_pipeline: write"]
    assert len(write) == 1, plans
    final = write[0].split("== Initial Plan ==", 1)[0]
    assert "alias_edges.parquet" not in final
    assert "BroadcastExchange" not in final, final
    assert final.count("MapInArrow (") == 1, final
    for sub in _subtrees(final, "MapInArrow"):
        ops = [re.sub(r"^[ :+*-]*", "", ln).split(" (")[0] for ln in sub]
        assert not any("Exchange" in op for op in ops), final
    assert "REPARTITION_BY_NUM" not in write[0], write[0]
    assert len(jobs) == 3, plans


def test_run_pipeline_respreads_a_single_file(spark, spark_jobs, pipe_data,
                                              tmp_path):
    """A single-file transcripts input scans as one split; run_pipeline
    still extracts it in more than one task: dedup._ensure_parallelism's
    round-robin re-spread to the shuffle width (8 here, which AQE does not
    coalesce) sits right under the MapInArrow, and a stage of the write
    runs 8 tasks."""
    transcripts, catalog, edges = pipe_data
    assert transcripts.rdd.getNumPartitions() == 1
    _, jobs, plans = spark_jobs(lambda: run_pipeline(
        spark, transcripts, catalog, edges, out_path=str(tmp_path / "out"),
        fuzzy_link=True))
    write = [p for d, p in plans if d == "run_pipeline: write"]
    assert len(write) == 1, plans
    final = write[0].split("== Initial Plan ==", 1)[0]
    [sub] = _subtrees(final, "MapInArrow")
    exchanges = [ln for ln in sub if re.search(r"- (Exchange|"
                                                r"ShuffleQueryStage) ", ln)]
    assert exchanges, final
    assert "RoundRobinPartitioning(8), REPARTITION_BY_NUM" in write[0], \
        write[0]
    tracker = spark.sparkContext.statusTracker()
    tasks = [tracker.getStageInfo(s).numTasks for j in jobs
             for s in tracker.getJobInfo(j).stageIds
             if tracker.getStageInfo(s) is not None]
    assert max(tasks) == 8, tasks


def test_resume_on_bucketed_layout_prunes_and_matches(spark, pipe_data,
                                                      tmp_path):
    """run_checkpointed over a write_bucketed_transcripts layout: the
    per-bucket filter hits the PARTITION column (scan reads only that
    bucket's files — verdict item 7), and the combined output equals the
    compute-bucket-on-the-fly path's."""
    transcripts, catalog, edges = pipe_data
    n_buckets = 4
    layout = str(tmp_path / "bucketed")
    write_bucketed_transcripts(transcripts, layout, n_buckets=n_buckets)
    at_rest = spark.read.parquet(layout)

    # partition layout on disk: one directory per bucket
    dirs = sorted(d for d in os.listdir(layout) if d.startswith("bucket="))
    assert dirs == [f"bucket={b}" for b in range(n_buckets)]

    # the bucket predicate lands as a PARTITION filter in the scan node
    # (inputFiles() lists the relation's files pre-pruning, so the plan is
    # the observable); selected-partition row parity double-checks it
    one = at_rest.where(F.col("bucket") == 2)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    only_files = spark.read.parquet(os.path.join(layout, "bucket=2"))
    assert one.count() == only_files.count() > 0

    def _proc(df):
        return df.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("turns"),
            F.sum(F.length("text")).alias("chars"))

    out_a = str(tmp_path / "out_pruned")
    led_a = str(tmp_path / "ledger_pruned.jsonl")
    run_checkpointed(at_rest, _proc, out_a, led_a,
                     n_buckets=n_buckets, bucket_col="bucket")

    out_b = str(tmp_path / "out_fly")
    led_b = str(tmp_path / "ledger_fly.jsonl")
    run_checkpointed(transcripts, _proc, out_b, led_b, n_buckets=n_buckets)

    rows_a = sorted(map(tuple, spark.read.parquet(out_a)
                        .select("conv_id", "turns", "chars").collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(out_b)
                        .select("conv_id", "turns", "chars").collect()))
    assert rows_a == rows_b and rows_a


def test_run_checkpointed_rejects_missing_bucket_col(spark, pipe_data,
                                                     tmp_path):
    transcripts, *_ = pipe_data
    with pytest.raises(ValueError, match="bucket_col"):
        run_checkpointed(transcripts, lambda df: df,
                         str(tmp_path / "o"), str(tmp_path / "l.jsonl"),
                         bucket_col="nope")


# ---------------------------------------------------------------------------
# round-4 ADVICE regressions
# ---------------------------------------------------------------------------


def test_repartition_guard_scoped_to_plan_root(spark, tmp_path):
    """A Repartition BELOW a width-collapsing aggregate no longer governs
    the frame's width, so the guard must NOT skip the re-spread for it;
    a root-region repartition (the caller's explicit choice) still does."""
    from quad_processor_util_spark.operators.dedup import _ensure_parallelism

    p = str(tmp_path / "tiny")
    spark.range(100).withColumn("k", F.col("id") % 10).coalesce(1) \
        .write.parquet(p)
    tiny = spark.read.parquet(p)  # single tiny file -> too-coarse estimate
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # repartition at the ROOT: trusted, frame returned as-is
    rooted = tiny.repartition(3)
    assert _ensure_parallelism(rooted) is rooted

    # repartition + sortWithinPartitions (the repo's own stable_order
    # pattern): partition-preserving Sort [..., false] must NOT end the
    # root region — the caller's width is still in force
    sorted_rooted = tiny.repartition(3, "k").sortWithinPartitions("k", "id")
    assert _ensure_parallelism(sorted_rooted) is sorted_rooted

    # a GLOBAL sort re-derives width: the repartition under it is stale
    global_sorted = tiny.repartition(3).orderBy("id")
    assert _ensure_parallelism(global_sorted) is not global_sorted

    # repartition BURIED under an aggregate: must still re-spread
    buried = tiny.repartition(3).groupBy("k").agg(F.count("*").alias("n"))
    spread = _ensure_parallelism(buried)
    assert spread is not buried
    plan = spread._jdf.queryExecution().analyzed().toString()
    assert plan.splitlines()[0].startswith("Repartition")
    assert f"{target}" in plan.splitlines()[0]

    # bare `Distinct` node (SQL SELECT DISTINCT prints it with no trailing
    # space/paren) is width-collapsing too: the buried repartition below it
    # must not be trusted
    tiny.createOrReplaceTempView("t5_guard_v")
    distinct_buried = spark.sql(
        "select distinct k from (select k from t5_guard_v distribute by k)")
    dplan = distinct_buried._jdf.queryExecution().analyzed().toString()
    if "RepartitionByExpression" in dplan:  # plan shape as expected
        assert _ensure_parallelism(distinct_buried) is not distinct_buried


def test_parse_nt_lines_reads_nondeterministic_source_once(spark):
    """One scan, one parse route per line: a rand()-generated source cannot
    drop or duplicate rows across a split, and parsing warns about nothing."""
    from quad_processor_util_spark.functions.nt import parse_nt_lines

    nondet = spark.range(10).select(
        F.concat(F.lit('<http://a> <http://b> "'),
                 F.round(F.rand(7), 6).cast("string"),
                 F.lit('\\u00e9" .')).alias("line"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = parse_nt_lines(nondet).collect()
    # Py4J's socket cleanup may leave ResourceWarnings; nothing else
    assert not [w for w in caught
                if not issubclass(w.category, ResourceWarning)]
    assert len(out) == 10
    assert all(r.obj.endswith("é") for r in out)


def test_cosine_nan_component_does_not_seize_rank1(spark):
    """A NaN component used to flow through a non-trivial denominator and
    rank above every real similarity (Spark orders NaN first under desc);
    the guard now scores such vectors 0.0 (round-5 review finding)."""
    from quad_processor_util_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
        (3, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {(r.query_id, r.rank): r.neighbor_id
           for r in cosine_topk(df, df.where(F.col("vec_id") == 0),
                                k=3).collect()}
    assert got[(0, 1)] == 1            # the true neighbor, not the NaN row
    assert got[(0, 3)] == 3            # NaN row sinks to sim 0.0, last


def test_lsh_ivf_null_embedding_rows_are_dropped_not_fatal(spark):
    """np.stack over a NULL embedding used to abort the whole job; bucketed
    paths now drop such rows, matching the exact path's rank-last/absent
    treatment of failed embeddings (round-5 review finding)."""
    from quad_processor_util_spark.operators.similarity import (
        ivf_topk,
        lsh_topk,
    )

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(8)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    q = df.where(F.col("vec_id") == 0)
    lsh = lsh_topk(df, q, dim=4, k=3, planes=2, tables=4).collect()
    assert lsh and all(r.neighbor_id != 99 for r in lsh)
    ivf = ivf_topk(df, q, dim=4, k=3, n_lists=2, nprobe=2).collect()
    assert ivf and all(r.neighbor_id != 99 for r in ivf)


def test_write_table_refuses_remote_path_before_writing(spark, tmp_path):
    from quad_processor_util_spark.sources.io import (
        write_sorted_nt,
        write_table,
    )

    df = spark.range(3)
    with pytest.raises(NotImplementedError, match="Iceberg"):
        write_table(df, "s3a://bucket/tbl")
    # local paths still work, sidecar included
    out = str(tmp_path / "tbl")
    write_table(df, out)
    assert os.path.exists(os.path.join(out, "_table_meta.json"))

    with pytest.raises(ValueError, match="99,999"):
        write_sorted_nt(spark.createDataFrame(
            [], "subject string, predicate string, obj string, "
                "datatype string, language string, graph string, "
                "dataset string"),
            str(tmp_path / "nt"), num_partitions=100_000)


def test_decontaminate_flags_substring_overlap(spark):
    """Winnowing guarantee end-to-end: a corpus doc sharing a >= k+window-1
    (10) normalized-char substring with a benchmark doc is flagged; an
    unrelated doc is not; hits are 0 for clean docs."""
    from quad_processor_util_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(0, "What is the capital of France? Paris is the capital.")],
        "doc_id int, text string")
    docs = spark.createDataFrame([
        (1, "trivia: what is the capital of france? paris is the capital."),
        (2, "completely different content with no shared substrings here"),
        (3, "xx the capital of France yy"),     # 10+ char shared substring
    ], "doc_id int, text string")
    got = {r.doc_id: (r.hits, r.contaminated)
           for r in decontaminate(docs, bench, k=7, window=4).collect()}
    assert got[1][1] and got[1][0] > 0          # near-verbatim inclusion
    assert not got[2][1] and got[2][0] == 0     # clean
    assert got[3][1]                            # substring-level leak


def test_embedding_dedup_clusters_transitive_chain(spark):
    """a~b and b~c above threshold (but a~c below it) must still cluster
    {a,b,c} under one min-id label — transitive closure, not pair drop."""
    import math

    from quad_processor_util_spark.operators.dedup import (
        embedding_dedup_clusters,
    )

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    # adjacent ~18° apart (cos ≈ 0.95+), ends ~37° apart (cos ≈ 0.80)
    rows = [(0, unit(0.0)), (1, unit(0.31)), (2, unit(0.62)),
            (3, [0.0, 0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {r.vec_id: r.cluster_id
           for r in embedding_dedup_clusters(
               df, dim=4, threshold=0.95, planes=2, tables=8).collect()}
    assert got[0] == got[1] == got[2] == 0   # chained into one cluster
    assert got[3] == 3                       # isolated vector labels itself


# ---------------------------------------------------------------------------
# sampling family (stratified_sample / group_quota / hash_split)
# ---------------------------------------------------------------------------


def test_stratified_sample_deterministic_and_nested(spark):
    """Same (id, seed) -> same sample on every run; a smaller fraction's
    sample is a SUBSET of a larger one's (nested samples); unseen strata
    fall back to default_fraction=0 and vanish."""
    from quad_processor_util_spark.operators.sampling import (
        stratified_sample,
    )

    rows = [(i, "en" if i % 2 == 0 else "xx") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    small = {r.doc_id for r in
             stratified_sample(df, "lang", {"en": 0.3}).collect()}
    big = {r.doc_id for r in
           stratified_sample(df, "lang", {"en": 0.7}).collect()}
    again = {r.doc_id for r in
             stratified_sample(df, "lang", {"en": 0.3}).collect()}
    assert small == again                      # deterministic
    assert small <= big                        # nested across fractions
    assert all(i % 2 == 0 for i in big)        # 'xx' stratum dropped
    # rates land near the fractions (200 en docs; binomial tolerance)
    assert 30 <= len(small) <= 90
    assert 110 <= len(big) <= 170
    # full keep / full drop are exact, not approximate
    assert stratified_sample(df, "lang", {"en": 1.0, "xx": 1.0}).count() \
        == 400
    assert stratified_sample(df, "lang", {"en": 0.0}).count() == 0


def test_stratified_sample_validates_fractions(spark):
    from quad_processor_util_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(1).withColumnRenamed("id", "doc_id") \
        .withColumn("lang", F.lit("en"))
    with pytest.raises(ValueError, match="non-empty"):
        stratified_sample(df, "lang", {})
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        stratified_sample(df, "lang", {"en": 1.5})
    with pytest.raises(ValueError, match="default_fraction"):
        stratified_sample(df, "lang", {"en": 0.5}, default_fraction=-0.1)


def test_group_quota_caps_with_preference_order(spark):
    """Keeps exactly the preferred `quota` rows of an over-quota group
    (ordered by the preference columns, id tiebreak), all rows of an
    under-quota group, and emits correct 1-based ranks when asked."""
    from quad_processor_util_spark.operators.sampling import group_quota

    rows = [  # group a: 4 rows, quality ties broken by doc_id
        (1, "a", 9), (2, "a", 7), (3, "a", 9), (4, "a", 5),
        (5, "b", 1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, q long")
    got = {(r.doc_id, r.rk) for r in
           group_quota(df, "grp", 2, order_by=[("q", False)],
                       rank_col="rk").collect()}
    assert got == {(1, 1), (3, 2), (5, 1)}
    # without rank_col the helper column must not leak into the schema
    no_rank = group_quota(df, "grp", 2, order_by=[("q", False)])
    assert no_rank.columns == ["doc_id", "grp", "q"]
    with pytest.raises(ValueError, match=">= 1"):
        group_quota(df, "grp", 0)


def test_group_quota_plans_window_group_limit(spark):
    """The row_number()<=quota filter must plan as WindowGroupLimit (the
    map-side per-group top-N that bounds skewed groups before the one
    shuffle) — the 100 TB design claim of the docstring."""
    from quad_processor_util_spark.operators.sampling import group_quota

    df = spark.createDataFrame(
        [(1, "a", 2)], "doc_id long, grp string, q long")
    plan = group_quota(df, "grp", 3, order_by=[("q", False)]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_hash_split_stable_total_and_weighted(spark):
    """Every row gets exactly one label; the assignment is a pure function
    of (id, seed): stable across calls, immune to extra rows being added
    (a doc can never migrate out of its bucket on reprocessing)."""
    from quad_processor_util_spark.operators.sampling import hash_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r.doc_id: r.split for r in hash_split(df, w, seed=7).collect()}
    assert len(got) == 1000
    from collections import Counter
    dist = Counter(got.values())
    assert set(dist) == {"train", "val", "test"}
    assert 700 <= dist["train"] <= 880          # ~800 ± binomial noise
    # stability: the first 100 ids keep their labels inside a smaller df
    sub = {r.doc_id: r.split
           for r in hash_split(df.where(F.col("doc_id") < 100), w,
                               seed=7).collect()}
    assert all(got[i] == sub[i] for i in sub)
    with pytest.raises(ValueError, match="sum"):
        hash_split(df, {"train": 0.5, "val": 0.2})
    with pytest.raises(ValueError, match="non-empty"):
        hash_split(df, {})


def test_unigram_logprob_hand_case(spark):
    """Hand-computable LM: counts a=2,b=1,c=1, total=4 at min_count=1;
    with min_count=2 the vocab collapses to {a} (total=2) and b/c hit the
    OOV floor 1/total. Empty docs get n_tokens=0 and a NULL score."""
    import math

    from quad_processor_util_spark.operators.scoring import (
        unigram_logprob_score,
    )

    docs = spark.createDataFrame(
        [(1, "a A b"), (2, "c"), (3, "   ")], "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.avg_logprob)
           for r in unigram_logprob_score(docs).collect()}
    assert got[1][0] == 3 and got[2][0] == 1 and got[3] == (0, None)
    assert got[1][1] == pytest.approx(
        (2 * math.log(2 / 4) + math.log(1 / 4)) / 3)
    assert got[2][1] == pytest.approx(math.log(1 / 4))

    pruned = {r.doc_id: r.avg_logprob
              for r in unigram_logprob_score(docs, min_count=2).collect()}
    assert pruned[1] == pytest.approx(
        (2 * math.log(2 / 2) + math.log(1 / 2)) / 3)
    assert pruned[2] == pytest.approx(math.log(1 / 2))  # OOV floor
    with pytest.raises(ValueError, match=">= 1"):
        unigram_logprob_score(docs, min_count=0)


def test_unigram_logprob_fit_on_reference_corpus(spark):
    """Scoring against a separate fit corpus: tokens unseen in the
    reference land on the OOV floor, in-reference tokens use reference
    counts — the CCNet shape (fit on clean corpus, score the crawl)."""
    import math

    from quad_processor_util_spark.operators.scoring import (
        unigram_logprob_score,
    )

    reference = spark.createDataFrame(
        [(0, "x x x y")], "doc_id long, text string")
    crawl = spark.createDataFrame(
        [(1, "x zz")], "doc_id long, text string")
    got = {r.doc_id: r.avg_logprob
           for r in unigram_logprob_score(
               crawl, fit_on=reference).collect()}
    assert got[1] == pytest.approx(
        (math.log(3 / 4) + math.log(1 / 4)) / 2)


def _pk_key(i, seed):
    import hashlib
    return int(hashlib.md5(f"{i}:{seed}".encode()).hexdigest()[:15], 16)


def test_shuffle_rank_permutation_and_bucket_invariance(spark):
    """Ranks are exactly 0..n-1 in md5(id:seed) order (replayed in pure
    Python), and invariant to n_buckets — bucketing only splits a fixed
    total order, it must never change it."""
    from quad_processor_util_spark.operators.packing import shuffle_rank

    ids = list(range(40))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.shuffle_pos
           for r in shuffle_rank(df, seed=7, n_buckets=4).collect()}
    expected = {i: pos for pos, i in
                enumerate(sorted(ids, key=lambda i: (_pk_key(i, 7), i)))}
    assert got == expected
    got64 = {r.doc_id: r.shuffle_pos
             for r in shuffle_rank(df, seed=7, n_buckets=64).collect()}
    assert got64 == expected
    assert sorted(got.values()) == list(range(40))
    with pytest.raises(ValueError, match="power of two"):
        shuffle_rank(df, n_buckets=12)


def test_pack_sequences_matches_python_replay(spark):
    """Full row-set equality against a sequential Python replay of
    concat-and-chunk packing, plus the conservation laws: every token
    emitted exactly once, every block except the last exactly full, and
    zero/NULL-length docs dropped."""
    from quad_processor_util_spark.operators.packing import pack_sequences

    lens = {i: (i * 37) % 19 for i in range(30)}  # includes zeros
    rows = [(i, lens[i] if i % 11 else None) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    B = 16
    got = sorted(tuple(r) for r in pack_sequences(
        df, block_tokens=B, seed=7, n_buckets=4).collect())

    order = sorted((i for i, n in rows if n), key=lambda i: (_pk_key(i, 7), i))
    exp, cursor = [], 0
    for i in order:
        n = lens[i]
        start, end = cursor, cursor + n
        for seq in range(start // B, (end - 1) // B + 1):
            lo, hi = max(start, seq * B), min(end, (seq + 1) * B)
            exp.append((i, seq, lo - seq * B, lo - start, hi - lo))
        cursor = end
    assert got == sorted(exp)

    total = sum(lens[i] for i, n in rows if n)
    assert sum(r[4] for r in got) == total
    per_seq = {}
    for r in got:
        per_seq[r[1]] = per_seq.get(r[1], 0) + r[4]
    last = max(per_seq)
    assert all(v == B for s, v in per_seq.items() if s != last)
    with pytest.raises(ValueError, match=">= 1"):
        pack_sequences(df, block_tokens=0)


def test_packing_count_branch_is_column_pruned(spark, tmp_path):
    """The bucket-counts branch is a deliberate second pass, but Catalyst
    must prune it to an id-only scan (map-side partial counts) — if a code
    change ever drags full rows through that branch, pass 2 stops being
    one narrow column of I/O and the 100 TB claim in the module docstring
    goes false. (Parquet source: pruning only shows in a ReadSchema.)"""
    import re

    from quad_processor_util_spark.operators.packing import shuffle_rank

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "x" * 50, "en") for i in range(20)],
        "doc_id long, text string, lang string").write.parquet(p)
    docs = spark.read.parquet(p)
    plan = shuffle_rank(docs, seed=7, n_buckets=4) \
        ._jdf.queryExecution().executedPlan().toString()
    schemas = re.findall(r"ReadSchema: (struct<[^>\n]*>)", plan)
    assert len(schemas) == 2, plan
    assert any(s == "struct<doc_id:bigint>" for s in schemas), schemas
    assert any("text" in s for s in schemas), schemas


def test_packing_n_buckets_beyond_key_bits_rejected(spark):
    """2^61 is a power of two but exceeds the 60-bit key: shiftright would
    get a negative count (masked to 63 by the JVM) and silently collapse
    every row into bucket 0 — must raise, not degrade."""
    from quad_processor_util_spark.operators.packing import shuffle_rank

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="2\\^60"):
        shuffle_rank(df, n_buckets=2 ** 61)
    # 2^60 itself is a legal (degenerate) bucket count: shift of zero
    assert shuffle_rank(df, n_buckets=2 ** 60).count() == 1


def test_seeded_key_null_id_hashes_as_empty_string(spark):
    """Shared key route (sampling.seeded_key, used by packing): a NULL id
    must hash as '' — the DuckDB-side spelling coalesce(id,'')||':seed' —
    not be silently skipped by concat_ws, which would fork the Spark and
    oracle orderings on NULL ids."""
    import hashlib

    from quad_processor_util_spark.operators.sampling import seeded_key

    df = spark.createDataFrame([(None,), ("a",)], "doc_id string")
    got = {r.doc_id: r.k for r in
           df.select("doc_id", seeded_key(F.col("doc_id"), 7).alias("k"))
           .collect()}
    exp_null = int(hashlib.md5(b":7").hexdigest()[:15], 16)
    exp_a = int(hashlib.md5(b"a:7").hexdigest()[:15], 16)
    assert got[None] == exp_null
    assert got["a"] == exp_a


# ---------------------------------------------------------------------------
# BPE tokenizer fitting (operators/bpe.py)
# ---------------------------------------------------------------------------


def _py_bpe(texts, n_merges, min_pair_count=2):
    """Sequential reference BPE: word counts -> iterate (pair count,
    argmax with (count desc, left, right) tie-break, greedy left-to-right
    merge). Mirrors Sennrich et al.'s published algorithm."""
    import collections
    import re

    wc = collections.Counter(
        w for t in texts for w in re.split(r"\s+", t.lower()) if w)
    vocab = {w: list(w) for w in wc}
    merges = []
    for step in range(n_merges):
        pairs = collections.Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += wc[w]
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(),
                         key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < min_pair_count:
            break
        merges.append((step, l, r, l + r, cnt))
        for w, syms in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            vocab[w] = out
    return merges, {w: vocab[w] for w in wc}


def test_fit_bpe_matches_sequential_reference(spark):
    """The distributed fit must reproduce the sequential algorithm's merge
    sequence AND final symbolization exactly — including the deterministic
    (count desc, left, right) tie-break and the greedy left-to-right merge
    on repeated symbols ('aaa' + merge(a,a) -> [aa, a])."""
    from quad_processor_util_spark.operators.bpe import fit_bpe

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "low lower lowest slow slowly",
        "aaa aaaa the the the",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges, vocab = fit_bpe(df, n_merges=8, min_pair_count=2)
    exp_merges, exp_vocab = _py_bpe(texts, 8, min_pair_count=2)
    assert merges == exp_merges
    got_vocab = {r.word: list(r.syms) for r in vocab.collect()}
    assert got_vocab == exp_vocab
    # merged symbols must actually appear multi-char
    assert any(len(m[3]) > 2 for m in merges)


def test_fit_bpe_early_stop_and_validation(spark):
    """min_pair_count stops the loop when the best pair is noise; bad
    arguments raise instead of degrading."""
    from quad_processor_util_spark.operators.bpe import fit_bpe

    df = spark.createDataFrame([(0, "ab cd ef")], "doc_id long, text string")
    merges, _ = fit_bpe(df, n_merges=5, min_pair_count=2)
    assert merges == []  # every pair occurs once
    with pytest.raises(ValueError, match="n_merges"):
        fit_bpe(df, n_merges=-1)
    with pytest.raises(ValueError, match="min_pair_count"):
        fit_bpe(df, n_merges=1, min_pair_count=0)


def test_bpe_pair_counts_hand_case(spark):
    """Weighted char-pair counts over the word-frequency table: 'aa' in
    'aaa' counts twice per occurrence, weights multiply by word frequency."""
    from quad_processor_util_spark.operators.bpe import bpe_pair_counts

    df = spark.createDataFrame(
        [(0, "aaa bb"), (1, "aaa aaa bb cd")], "doc_id long, text string")
    got = {(r.left, r.right): r.pair_count
           for r in bpe_pair_counts(df).collect()}
    # 'aaa' x3 -> (a,a) 2*3=6; 'bb' x2 -> (b,b) 2; 'cd' x1 -> (c,d) 1
    assert got == {("a", "a"): 6, ("b", "b"): 2, ("c", "d"): 1}
    top = bpe_pair_counts(df, top_n=2).collect()
    assert [(r.left, r.right) for r in top] == [("a", "a"), ("b", "b")]


def _py_encode(text, merges):
    """Sequential Sennrich apply (same greedy fold as _py_bpe)."""
    import re

    toks = []
    for w in re.split(r"\s+", text.lower()):
        if not w:
            continue
        syms = list(w)
        for l, r in merges:
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            syms = out
        toks.extend(syms)
    return toks


def test_encode_bpe_round_trips_with_fit(spark):
    """fit_bpe -> encode_bpe must equal the sequential reference encode on
    every doc (order-sensitive token streams), and concatenating a doc's
    tokens must restore its words (merges never cross word boundaries)."""
    from quad_processor_util_spark.operators.bpe import encode_bpe, fit_bpe

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "low lower lowest slow slowly",
        "aaa aaaa the the the",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    merges, _ = fit_bpe(df, n_merges=8, min_pair_count=2)
    got = {r.doc_id: (list(r.tokens), r.n_tokens)
           for r in encode_bpe(df, merges).collect()}
    pairs = [(m[1], m[2]) for m in merges]
    for i, t in enumerate(texts):
        exp = _py_encode(t, pairs)
        assert got[i] == (exp, len(exp)), f"doc {i}"
        assert "".join(got[i][0]) == t.replace(" ", "")


def test_encode_bpe_hand_cases(spark):
    """Recursive merges ((a,b) then (ab,c)), greedy runs ('aaaa' under
    (a,a) -> [aa, aa]; 'aaa' -> [aa, a]), empty/NULL text -> zero tokens,
    and fit_bpe's 5-tuples accepted directly."""
    from quad_processor_util_spark.operators.bpe import encode_bpe

    df = spark.createDataFrame(
        [(0, "ababc abc x"), (1, "aaaa aaa"), (2, ""), (3, None),
         (4, "  ab\tc  ")],
        "doc_id long, text string")
    merges = [("a", "b"), ("ab", "c")]
    got = {r.doc_id: (list(r.tokens), r.n_tokens)
           for r in encode_bpe(df, merges).collect()}
    assert got[0] == (["ab", "abc", "abc", "x"], 4)
    assert got[1] == (["a", "a", "a", "a", "a", "a", "a"], 7)
    assert got[2] == ([], 0)
    assert got[3] == ([], 0)
    assert got[4] == (["ab", "c"], 2)
    run = {r.doc_id: list(r.tokens)
           for r in encode_bpe(df, [("a", "a")]).collect()}
    assert run[1] == ["aa", "aa", "aa", "a"]
    # fit_bpe tuple format (step, l, r, merged, count)
    tup = {r.doc_id: list(r.tokens)
           for r in encode_bpe(df, [(0, "a", "b", "ab", 99)]).collect()}
    assert tup[0] == ["ab", "ab", "c", "ab", "c", "x"]


def test_encode_bpe_validation(spark):
    from quad_processor_util_spark.operators.bpe import encode_bpe

    df = spark.createDataFrame([(0, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="whitespace"):
        encode_bpe(df, [("a", " b")])
    with pytest.raises(ValueError, match="bad merge"):
        encode_bpe(df, [("a", "")])
    with pytest.raises(ValueError, match="need columns"):
        encode_bpe(df, [("a", "b")], id_col="nope")


def test_encode_bpe_memo_is_byte_capped(spark, monkeypatch):
    """High-entropy words under a 4 KiB memo: the memo never accounts more
    than its cap (each word, its token list and its tokens counted), the
    accounting matches what it holds, and eviction changes no token — in
    the kernel and through encode_bpe with the cap patched."""
    import random
    import string
    import sys

    from quad_processor_util_spark.functions.text import (
        _GRAM_ENTRY_OVERHEAD, _GramMemo,
    )
    from quad_processor_util_spark.operators import bpe

    rng = random.Random(11)
    vocab = ["".join(rng.choices(string.ascii_lowercase,
                                 k=rng.randint(3, 14)))
             for _ in range(2000)]
    docs = [rng.choices(vocab, k=40) for _ in range(100)]
    merges = bpe._normalize_merges(
        [("t", "h"), ("th", "e"), ("e", "r"), ("a", "n"), ("i", "n")])
    cap = 4096
    evictions = 0

    class Checked(_GramMemo):
        __slots__ = ()

        def add(self, key, value):
            nonlocal evictions
            n = len(self)
            super().add(key, value)
            evictions += len(self) <= n
            assert self.nbytes <= cap
            assert self.nbytes == sum(
                sys.getsizeof(k) + _GRAM_ENTRY_OVERHEAD
                + bpe._tokens_bytes(v) for k, v in self.items())

    capped = bpe._encode_docs(docs, merges, Checked(cap, bpe._tokens_bytes))
    whole = _GramMemo(1 << 40, bpe._tokens_bytes)
    assert capped == bpe._encode_docs(docs, merges, whole)
    assert evictions > 10 and whole.nbytes > 10 * cap

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string")
    pairs = [(m[0], m[1]) for m in merges]

    def run():
        return sorted((r.doc_id, list(r.tokens), r.n_tokens)
                      for r in bpe.encode_bpe(df, pairs).collect())

    full = run()
    monkeypatch.setattr(bpe, "_BPE_MEMO_BYTES", cap)
    assert run() == full == [(i, t, len(t)) for i, t in enumerate(capped)]


def test_streaming_dedup_drains_to_batch_distinct(spark, tmp_path):
    """Exact duplicates split across micro-batches (two full copies in
    separate file drops, maxFilesPerTrigger=8 over 16 files) must drain to
    exactly the batch-distinct row set — state spans triggers. Both the
    bounded (dropDuplicatesWithinWatermark) and unbounded (dropDuplicates)
    variants."""
    import datetime as dt

    from quad_processor_util_spark.streaming.ingest import (
        read_transcript_stream, run_stream_to_parquet, streaming_dedup,
    )

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (f"c{i % 3}", i // 3, "user", f"turn text {i}", None,
         base + dt.timedelta(minutes=i))
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    in_dir = str(tmp_path / "in")
    df.repartition(8).write.parquet(in_dir)
    df.repartition(8).write.mode("append").parquet(in_dir)

    expected = sorted((c, t, x) for c, t, _, x, _, _ in rows)

    for variant, kwargs in [
        ("watermarked", dict(watermark_col="ts", delay="3650 days")),
        ("unbounded", {}),
    ]:
        out_dir = str(tmp_path / f"out_{variant}")
        ckpt = str(tmp_path / f"ckpt_{variant}")
        deduped = streaming_dedup(
            read_transcript_stream(spark, in_dir),
            ["conv_id", "turn_idx"], **kwargs)
        run_stream_to_parquet(deduped, out_dir, ckpt).awaitTermination()
        got = sorted((r.conv_id, r.turn_idx, r.text)
                     for r in spark.read.parquet(out_dir).collect())
        assert got == expected, variant


def _py_pagerank(edges, iters, d=0.85):
    """Sequential reference: damped PageRank, dangling mass redistributed
    uniformly, synchronous rounds, deduplicated edges."""
    eset = sorted(set(edges))
    nodes = sorted({u for e in eset for u in e})
    n = len(nodes)
    out: dict = {}
    for u, v in eset:
        out.setdefault(u, []).append(v)
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(iters):
        dmass = sum(rank[u] for u in nodes if u not in out)
        contrib = {u: 0.0 for u in nodes}
        for u, vs in out.items():
            share = rank[u] / len(vs)
            for v in vs:
                contrib[v] += share
        rank = {u: (1 - d) / n + d * (contrib[u] + dmass / n)
                for u in nodes}
    return rank


def test_pagerank_matches_reference_and_conserves_mass(spark):
    """Cycle + dangling sink + duplicate edges: every round's total mass
    must stay 1 and the final ranks must match the sequential reference;
    a hub pointed at by everything outranks its spokes."""
    from quad_processor_util_spark.operators.pagerank import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "d"),
             ("c", "d"), ("a", "b")]  # duplicate (a,b) must not double-count
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (0, 1, 5):
        got = {r.node: r.rank for r in pagerank(df, iterations=iters).collect()}
        exp = _py_pagerank(edges, iters)
        assert set(got) == set(exp)
        for u in exp:
            assert abs(got[u] - exp[u]) < 1e-9, (iters, u)
        assert abs(sum(got.values()) - 1.0) < 1e-9
    final = {r.node: r.rank for r in pagerank(df, iterations=5).collect()}
    assert final["d"] == max(final.values())  # the sink hub wins


def test_pagerank_edge_cases(spark):
    """NULL endpoints dropped, empty graph -> empty frame, validation."""
    from quad_processor_util_spark.operators.pagerank import pagerank

    df = spark.createDataFrame(
        [("a", "b"), ("a", None), (None, "b")], "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iterations=2).collect()}
    assert set(got) == {"a", "b"} and abs(sum(got.values()) - 1.0) < 1e-9
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty, iterations=3).count() == 0
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=-1)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.5)


def test_merge_upsert_all_arms_and_guards(spark, tmp_path):
    """Copy-on-write MERGE: matched keys replaced, delete-flagged keys
    dropped (absent-key delete is a no-op), unmatched rows inserted; the
    new snapshot's sidecar records the parent; duplicate update keys and
    schema mismatches raise."""
    from quad_processor_util_spark.sources.io import (
        merge_upsert, read_table_meta, write_table,
    )

    base_path = str(tmp_path / "base")
    out_path = str(tmp_path / "merged")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string")
    write_table(base, base_path)
    upd = spark.createDataFrame(
        [(2, "B", False),    # update
         (3, None, True),    # delete
         (5, "E", False),    # insert
         (9, None, True)],   # delete of absent key: no-op
        "k long, v string, del boolean")
    out = merge_upsert(spark, base_path, upd, ["k"], out_path,
                       delete_col="del")
    assert sorted((r.k, r.v) for r in out.collect()) == \
        [(1, "a"), (2, "B"), (4, "d"), (5, "E")]
    meta = read_table_meta(out_path)
    assert meta["op"] == "merge_upsert" and meta["parent"] == base_path

    # no-delete-col variant: pure upsert
    out2 = merge_upsert(
        spark, base_path,
        spark.createDataFrame([(1, "A"), (7, "G")], "k long, v string"),
        ["k"], str(tmp_path / "m2"))
    assert sorted((r.k, r.v) for r in out2.collect()) == \
        [(1, "A"), (2, "b"), (3, "c"), (4, "d"), (7, "G")]

    with pytest.raises(ValueError, match="duplicate keys"):
        merge_upsert(
            spark, base_path,
            spark.createDataFrame([(1, "x"), (1, "y")], "k long, v string"),
            ["k"], str(tmp_path / "m3"))
    with pytest.raises(ValueError, match="columns"):
        merge_upsert(
            spark, base_path,
            spark.createDataFrame([(1,)], "k long"),
            ["k"], str(tmp_path / "m4"))


def test_compact_table_layout_only(spark, tmp_path):
    """Compaction rewrites many small files into few, records the layout
    change in the sidecar, and leaves content untouched."""
    import glob

    from quad_processor_util_spark.sources.io import (
        compact_table, read_table_meta, write_table,
    )

    base_path = str(tmp_path / "base")
    out_path = str(tmp_path / "compacted")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    write_table(df.repartition(16), base_path)
    assert len(glob.glob(base_path + "/*.parquet")) == 16
    out = compact_table(spark, base_path, out_path,
                        target_file_bytes=1 << 30)
    assert len(glob.glob(out_path + "/*.parquet")) == 1
    meta = read_table_meta(out_path)
    assert (meta["op"], meta["parent"]) == ("compact", base_path)
    assert meta["files_before"] == 16 and meta["files_after"] == 1
    assert sorted((r.id, r.v) for r in out.collect()) == \
        [(i, 2 * i) for i in range(1000)]
    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_table(spark, base_path, str(tmp_path / "x"),
                      target_file_bytes=0)
    with pytest.raises(ValueError, match="no parquet files"):
        compact_table(spark, str(tmp_path / "nope"), str(tmp_path / "y"))

    # files_after is MEASURED: with fewer rows than target partitions,
    # empty tasks write no files and the sidecar must say so
    tiny_base = str(tmp_path / "tiny")
    write_table(spark.range(2), tiny_base)
    tiny_out = str(tmp_path / "tiny_compacted")
    compact_table(spark, tiny_base, tiny_out, target_file_bytes=512)
    m2 = read_table_meta(tiny_out)
    measured = len(glob.glob(tiny_out + "/*.parquet"))
    assert m2["files_after"] == measured
    assert m2["target_files"] >= m2["files_after"]
    assert measured <= 2  # 2 rows can fill at most 2 files


def test_profile_table_census(spark):
    """Rows/nulls/exact-distincts per column in one pass; n_distinct is
    non-null SQL semantics; approx variant returns the same shape with
    plausible estimates; unknown columns raise."""
    from quad_processor_util_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (None, "b")],
        "k long, v string")
    got = {r.col_name: (r.n_rows, r.n_null, r.n_distinct)
           for r in profile_table(df).collect()}
    assert got == {"k": (4, 1, 3), "v": (4, 1, 2)}
    sub = profile_table(df, columns=["v"]).collect()
    assert len(sub) == 1 and sub[0].col_name == "v"
    approx = {r.col_name: r.n_distinct
              for r in profile_table(df, approx=True).collect()}
    assert set(approx) == {"k", "v"} and all(v >= 1 for v in approx.values())
    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, columns=["nope"])
    with pytest.raises(ValueError, match="no columns"):
        profile_table(df, columns=[])
    # a top-level column whose NAME contains a dot must profile fine
    dotted = df.withColumnRenamed("v", "user.id")
    got_dot = {r.col_name: r.n_distinct for r in profile_table(dotted).collect()}
    assert got_dot["user.id"] == 2
    # map-typed columns have no distinct count: loud up-front error
    mapped = df.withColumn("m", F.create_map(F.lit("a"), F.col("v")))
    with pytest.raises(ValueError, match="map-typed"):
        profile_table(mapped)
    assert len(profile_table(mapped, columns=["k", "v"]).collect()) == 2


def test_camel_case_vertical_tab_dialect_parity(spark):
    """camel_case_expr must NOT treat \\x0B as a separator (RE2/DuckDB
    dialect, which the camelcase_mint oracle replays) — Java's \\s would."""
    from quad_processor_util_spark.functions.uri import camel_case_expr

    df = spark.createDataFrame([("a\x0bb_tool name",)], "s string")
    got = df.select(camel_case_expr(F.col("s")).alias("c")).collect()[0].c
    assert got == "a\x0bbToolName"


def test_jsonl_roundtrip_escaping_and_schema(spark, tmp_path):
    """JSONL export + schema-enforced read-back is the identity, including
    quotes, backslashes, newlines, tabs, unicode, and NULL fields; missing
    schema raises."""
    from quad_processor_util_spark.sources.io import read_jsonl, write_jsonl

    rows = [
        (1, 'he said "hi"'),
        (2, "back\\slash and\nnewline\tand tab"),
        (3, "unicode: café ☃ \U0001f600"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    path = str(tmp_path / "jl")
    write_jsonl(df, path, compression="gzip")
    got = sorted((r.id, r.text)
                 for r in read_jsonl(spark, path, "id long, text string")
                 .collect())
    # Spark's json sink DROPS null-valued fields on write (ignoreNullFields
    # default) and the reader restores them as NULL under the schema
    assert got == sorted(rows)
    with pytest.raises(ValueError, match="schema"):
        read_jsonl(spark, path, "")


def test_link_candidates_ambiguous_surface_form(spark):
    """Catalog rows SHARING a surface form (ambiguous gazetteer) must not
    corrupt the Jaccard: an exact mention links to the highest-weight
    entity with jaccard exactly 1.0 — the old per-row inverted index
    inflated the intersection and divided by zero, silently dropping
    every exact match (round-5 review finding)."""
    from quad_processor_util_spark.operators.linking import link_surface_forms

    catalog = spark.createDataFrame(
        [("Paris", "http://e/1", 0.9),
         ("Paris", "http://e/2", 0.5),
         ("Paris", "http://e/3", 0.2),
         ("London", "http://e/4", 0.8)],
        "surface_form string, entity_iri string, form_weight double")
    mentions = spark.createDataFrame([("Paris",)], "surface string")
    # score 0.9 = jaccard 1.0 x the best weight
    best = link_surface_forms(mentions, catalog).collect()
    assert [(r.surface, r.entity_iri, r.score) for r in best] == \
        [("Paris", "http://e/1", 0.9)]


def test_multimodal_review_guards():
    """ahash folds mod 2^64 at thumb > 8; maxval != 255 PPM and
    zero-sample-rate WAV fail as decode errors (ValueError), not crashes."""
    import numpy as np
    from test_multimodal_real import encode_ppm

    from quad_processor_util_spark.multimodal import (
        decode_ppm, decode_wav_pcm16, image_features,
    )

    img = np.arange(16 * 16 * 3, dtype=np.uint8).reshape(16, 16, 3)
    *_, ahash16 = image_features(img, thumb=16)
    assert -(1 << 63) <= ahash16 < (1 << 63)  # folded, not overflowed

    low_max = b"P6\n2 2\n15\n" + bytes(12)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(low_max)
    assert decode_ppm(encode_ppm(img)).shape == (16, 16, 3)

    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 4)
    bad = bytearray(buf.getvalue())
    off = bad.find(b"fmt ") + 12  # dwSamplesPerSec within the fmt chunk
    bad[off:off + 4] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="sample rate"):
        decode_wav_pcm16(bytes(bad))


def test_pipeline_review_guards(spark):
    """Gazetteer cache keys are framing-unambiguous; \\x00-bearing surface
    forms and typo'd overlap policies fail fast on the driver; dead-app
    broadcast cache entries are purged on insert."""
    from quad_processor_util_spark.plans.pipeline import (
        _BC_CACHE, _gaz_content_key, broadcast_gazetteer, make_extract_fn,
    )

    # ("a\x00" -> "b") and ("a" -> "\x00b") hashed identically under the
    # old sentinel concatenation
    assert _gaz_content_key({"a\x00": "b"}) != _gaz_content_key({"a": "\x00b"})

    with pytest.raises(ValueError, match="x00"):
        broadcast_gazetteer(spark, {"bad\x00form": "http://e/1"})
    bc = broadcast_gazetteer(spark, {"Ada": "http://e/ada"})
    with pytest.raises(ValueError, match="overlap policy"):
        make_extract_fn(bc, policy="NO_SUBS")

    # a foreign-app entry is evicted when a new gazetteer is broadcast
    _BC_CACHE[("dead-app-123", "k")] = object()
    broadcast_gazetteer(spark, {"Alan": "http://e/alan"})
    assert ("dead-app-123", "k") not in _BC_CACHE


def test_io_checkpoint_review_guards(spark, tmp_path):
    """file:// table paths keep their sidecar; unsupported write modes,
    in-place merge/compact, remote ledger paths, and NULL at-rest buckets
    all fail loudly; fresh ledger entries carry committed_at."""
    from quad_processor_util_spark.plans.checkpoint import (
        Ledger, run_checkpointed,
    )
    from quad_processor_util_spark.sources.io import (
        compact_table, merge_upsert, read_table_meta, write_table,
    )

    df = spark.range(5)
    uri_path = "file://" + str(tmp_path / "uri_table")
    write_table(df, uri_path, meta={"tag": "x"})
    m = read_table_meta(uri_path)
    assert m and m["tag"] == "x"  # sidecar landed despite the file:// URI

    with pytest.raises(ValueError, match="unsupported mode"):
        write_table(df, str(tmp_path / "t2"), mode="ignore")

    base = str(tmp_path / "base")
    write_table(df, base)
    with pytest.raises(ValueError, match="must differ"):
        merge_upsert(spark, base, df, ["id"], base)
    with pytest.raises(ValueError, match="must differ"):
        compact_table(spark, base, base)

    with pytest.raises(NotImplementedError, match="driver-local"):
        Ledger("s3://bucket/run/ledger.jsonl")

    # NULL at-rest bucket values must fail the stray probe, not vanish
    tr = spark.createDataFrame(
        [("c1", 0, "user", "Ada Lovelace works at Hopper Labs.", None, None),
         ("c2", 0, "user", "x", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").withColumn(
        "bucket", F.when(F.col("conv_id") == "c1", 0))
    with pytest.raises(ValueError, match="NULL"):
        run_checkpointed(
            tr, lambda d: d, str(tmp_path / "out"),
            str(tmp_path / "led.jsonl"), n_buckets=2, bucket_col="bucket")

    # fresh entries carry the ledger's committed_at timestamp
    tr_ok = tr.where(F.col("bucket").isNotNull())
    done = run_checkpointed(
        tr_ok, lambda d: d, str(tmp_path / "out2"),
        str(tmp_path / "led2.jsonl"), n_buckets=2, bucket_col="bucket")
    assert all("committed_at" in r for r in done.values())


# ---------------------------------------------------------------------------
# Duplicated-span detection (operators/spans.py)
# ---------------------------------------------------------------------------


def test_duplicate_spans_flags_shared_passage_only(spark):
    """A passage >= k+window-1 chars shared by two docs yields a merged
    span in BOTH docs covering it (cores, per the winnowing guarantee);
    unique text yields no span. min_docs=3 drops a 2-doc duplicate."""
    from quad_processor_util_spark.operators.spans import duplicate_spans

    boiler = "all rights reserved worldwide forever"
    texts = [
        ("u1", f"completely original musings about gardens. {boiler}"),
        ("u2", f"{boiler} and now a treatise on volcanic rocks."),
        ("u3", "nothing shared here at all, purely unique content xyzzy."),
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    spans = duplicate_spans(df, k=7, window=4, min_docs=2)
    rows = {r.doc_id: (r.span_start, r.span_end, r.n_grams)
            for r in spans.collect()}
    assert "u3" not in rows
    assert set(rows) == {"u1", "u2"}
    # u2: boilerplate starts at normalized pos 1
    s2, e2, n2 = rows["u2"]
    assert s2 >= 1 and e2 <= len(boiler) + 1 + 7 and n2 >= 1
    # u1: span sits inside the boilerplate suffix
    off = texts[0][1].index(boiler) + 1
    s1, e1, _ = rows["u1"]
    assert s1 >= off - 7 and e1 <= off + len(boiler) + 7
    # at min_docs=3 the 2-doc duplicate disappears
    assert duplicate_spans(df, min_docs=3).count() == 0
    with pytest.raises(ValueError, match="min_docs"):
        duplicate_spans(df, min_docs=1)


def test_duplicate_spans_merges_touching_intervals(spark):
    """Two identical docs: every selected gram is shared, so each doc
    collapses to ONE span covering the whole normalized text (interval
    merging), with n_grams = its winnow fingerprint occurrence count."""
    from quad_processor_util_spark.functions.text import winnow_occurrences
    from quad_processor_util_spark.operators.spans import duplicate_spans

    t = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([("a", t), ("b", t)],
                               "doc_id string, text string")
    spans = duplicate_spans(df, k=7, window=4, min_docs=2).collect()
    assert len(spans) == 2  # one merged span per doc
    occ = winnow_occurrences(df, k=7, window=4)
    n_occ = occ.where(F.col("doc_id") == "a").count()
    # boundaries are winnowing CORES: the first selected gram sits in the
    # first window (pos <= 4), the last at or after m - (window - 1)
    m = len(t) - 7 + 1
    for r in spans:
        assert 1 <= r.span_start <= 4
        assert m - 3 + 7 <= r.span_end <= m + 7
        assert r.n_grams == n_occ
