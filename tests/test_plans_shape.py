"""Plan-shape invariants: the properties that make queries survive a
100-1000x scale-up (docs/SCALE.md). These assert on the PHYSICAL plan —
a regression here is a silent 100-TB performance bug even when results
stay correct."""

import pyspark.sql.functions as F
import pytest

from beamium_spark.operators.extract import extract_points
from beamium_spark.operators.rollup import rollup_cascade, rollup_tier
from beamium_spark.sources.synth import ensure_web_pages


@pytest.fixture(scope="module")
def pages(spark):
    return spark.read.parquet(ensure_web_pages(0.0003))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_metric_selection_prunes_wide_columns(spark, pages):
    """A doc_count-only extract must never read html/text — at 100 TB
    that is ~99% of the table's bytes."""
    plan = _plan(
        rollup_tier(
            extract_points(pages, bucket_mode="site", metrics=("doc_count",)),
            "1 minute",
        )
    )
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("html" not in s and "text" not in s for s in schemas)


def test_ts_range_filter_reaches_scan(spark, pages):
    """The job's pending-chunk range predicate must land in PushedFilters
    so parquet row-group stats prune committed data."""
    df = pages.filter(
        (F.col("warc_ts") >= "2025-01-02") & (F.col("warc_ts") < "2025-01-03")
    ).select("url")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(warc_ts" in plan and "LessThan(warc_ts" in plan


def test_cascade_reads_tier_not_raw(spark, pages):
    """1h from 1m must aggregate the lower tier — exactly one scan of the
    raw table in the whole cascade plan."""
    plan = _plan(
        rollup_cascade(
            rollup_tier(extract_points(pages, bucket_mode="site"), "1 minute"),
            "1 hour",
        )
    )
    assert plan.count("FileScan parquet") == 1


def test_query_re_rolls_use_the_window_key(spark, pages, tmp_path):
    """query()'s tier re-roll and its M4 pixel columns group on the one
    integer window key (rollup.window_start): no F.window struct and no
    isnotnull(window) filter in either plan."""
    import datetime as dt
    import re

    from beamium_spark.operators.blocks import encode_blocks
    from beamium_spark.plans.query import query
    from beamium_spark.sources.tables import ParquetTierStore

    points = extract_points(pages, bucket_mode="site", metrics=("doc_count",))
    store = ParquetTierStore(spark, str(tmp_path / "store"))
    store.write_chunks(
        rollup_tier(points, "1 minute").withColumn(
            "chunk_start", F.date_trunc("hour", "window_start")
        ),
        "rollup_1m",
    )
    store.write_chunks(
        encode_blocks(points.select("bucket", "metric", "ts", "value"), "1 hour"),
        "blocks",
    )
    t0 = dt.datetime(2025, 1, 1)
    for kw in ({"step": "10 minutes", "agg": "sum"},
               {"step": "15 minutes", "render": "m4"}):
        df = query(store, "doc_count", t0, t0 + dt.timedelta(hours=6), **kw)
        qe = df._jdf.queryExecution()
        for plan in (qe.optimizedPlan().toString(), _plan(df)):
            # F.window's struct column and its isnotnull(window#..) filter
            assert not re.search(r"\bwindow#\d|named_struct\(start", plan), kw
        assert df.count() > 0


def test_rollup_is_partial_plus_final(spark, pages):
    """The windowed rollup must be a two-phase hash aggregate around ONE
    exchange keyed on the group key (map-side combine bounds shuffle rows
    by key cardinality, not input size)."""
    plan = _plan(
        rollup_tier(extract_points(pages, bucket_mode="site"), "1 minute")
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_broadcast_for_small_dims(spark, pages):
    """Small side of the ANN candidate join must broadcast — no shuffle of
    the vector table against a 5-row query set."""
    from beamium_spark.operators.similarity import ivf_topk

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = vecs.orderBy("vec_id").limit(5)
    plan = _plan(ivf_topk(vecs, qs, k=5, n_centroids=4, nprobe=2))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


# ---- LSH shuffle-payload invariants (dedup at 100 TB) ----------------------
#
# The banded self-joins must exchange ONLY narrow (id, band, bh) rows, and
# gram arrays may enter an exchange only AFTER the broadcast semi-join prune
# to candidate ids — otherwise the shuffle payload is the corpus's n-gram
# text (x4 per doc for simhash bands), the round-2 scale bug.


def _formatted_plan(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def _tree_nodes(tree: str):
    """[(depth, node_id, name)] from the formatted-explain tree section."""
    import re

    out = []
    for ln in tree.splitlines():
        m = re.match(r"^([ :+\-*]*)(\S.*?)\s+\((\d+)\)\s*$", ln)
        if m:
            out.append((len(m.group(1)), int(m.group(3)), m.group(2)))
    return out


def _subtree(nodes, i):
    d = nodes[i][0]
    j = i + 1
    while j < len(nodes) and nodes[j][0] > d:
        j += 1
    return nodes[i:j]


def _grams_exchange_safety(df, col: str):
    """Every Exchange whose input carries ``col`` must sit above (contain in
    its subtree) the BroadcastHashJoin LeftSemi prune; exchanges keyed on the
    LSH bands must never carry ``col``."""
    import re

    plan = _formatted_plan(df)
    tree, _, details = plan.partition("\n\n")
    blocks = {}
    for m in re.finditer(
        r"^\((\d+)\) ([^\n]*)\n((?:(?!^\(\d+\) ).*\n?)*)", details, re.M
    ):
        blocks[int(m.group(1))] = m.group(2) + "\n" + m.group(3)
    nodes = _tree_nodes(tree)
    assert nodes, "could not parse formatted plan tree"
    carrying = []
    for i, (_d, nid, name) in enumerate(nodes):
        if not name.startswith("Exchange"):
            continue
        blk = blocks.get(nid, "")
        first_line = blk.splitlines()[0] if blk else ""
        inp = "\n".join(
            ln for ln in blk.splitlines() if ln.startswith(("Input", "Arguments"))
        )
        if "hashpartitioning(band" in blk or "hashpartitioning(bh" in blk:
            assert col not in inp and ", sh#" not in inp, (
                f"band exchange {nid} carries wide payload: {first_line}"
            )
        if col in inp:
            sub = _subtree(nodes, i)
            assert any("LeftSemi" in n[2] for n in sub), (
                f"exchange {nid} ships {col} for the FULL corpus "
                f"(no semi-join prune upstream)"
            )
            carrying.append(nid)
    # the prune itself must exist in the plan
    assert "LeftSemi" in plan


def test_lsh_band_exchanges_are_narrow(spark):
    """simhash_pairs and minhash_lsh_pairs: with broadcast disabled (so the
    planner must materialize every exchange), no exchange ships the corpus's
    gram arrays — bands shuffle narrow, grams attach only post-prune."""
    from beamium_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        _grams_exchange_safety(
            simhash_pairs(docs, max_hamming=3, jaccard_verify=0.8), "__grams"
        )
        _grams_exchange_safety(minhash_lsh_pairs(docs, threshold=0.8), "__grams")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_top_urls_has_no_single_task_global_rank(spark, pages):
    """top_urls must never rank a whole window's URL counts in one task:
    the plan needs a LOCAL top-k window partitioned by (w, __salt) feeding
    a __lr<=k filter BEFORE the global per-w rank — so the global window
    only ever sees ≤ k·salt_factor rows per window. A single per-window
    row_number over the counted frame is the 10^8-urls-in-one-task shape
    this regression test forbids."""
    import re

    from beamium_spark.operators.rollup import top_urls

    plan = _plan(top_urls(pages, "1 hour", k=5))
    # two Window nodes: the salted local prune and the global rank
    win_specs = re.findall(r"Window \[row_number\(\).*?\], \[([^\]]*)\]", plan)
    assert len(win_specs) == 2, plan
    salted = [s for s in win_specs if "__salt" in s]
    unsalted = [s for s in win_specs if "__salt" not in s]
    assert len(salted) == 1 and len(unsalted) == 1, win_specs
    # tree order (printed top-down): global rank consumes the __lr filter,
    # which consumes the salted window — i.e. the prune is UPSTREAM of
    # the global rank, not the other way around
    pos_global = plan.index(unsalted[0])
    pos_filter = plan.index("__lr")
    pos_salted = plan.index(salted[0])
    assert pos_global < pos_filter < pos_salted, (
        "global per-w rank is not fed by the salted local top-k prune"
    )


def test_top_urls_salting_is_lossless(spark, pages):
    """The salt prune must not change results: salt_factor=1 (no prune
    benefit) and the default produce identical rows."""
    from beamium_spark.operators.rollup import top_urls

    a = top_urls(pages, "1 hour", k=5, salt_factor=1)
    b = top_urls(pages, "1 hour", k=5, salt_factor=64)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_write_chunks_clusters_files_into_disjoint_runs(spark, tmp_path):
    """Chunk writes sort rows series-first, by (chunk_key, metric, bucket,
    window_start), so each emitted parquet file is a disjoint sorted run
    that keeps each series' values together for the page encoder.
    Verified from the parquet footers: per chunk partition, file
    key-ranges must not overlap."""
    import datetime as dt
    import glob
    import os

    import pyarrow.parquet as pq

    from beamium_spark.sources.tables import ParquetTierStore

    store = ParquetTierStore(spark, str(tmp_path / "store"), max_records_per_file=100)
    t0 = dt.datetime(2025, 1, 1)
    rows = [
        (b, f"m{m}", t0 + dt.timedelta(minutes=i), 1, 1.0, 1.0, 1.0)
        for b in range(8)
        for m in range(4)
        for i in range(30)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "bucket int, metric string, window_start timestamp, cnt long, "
            "sum_value double, min_value double, max_value double",
        )
        .withColumn("chunk_start", F.date_trunc("hour", "window_start"))
        .repartition(4)  # scrambled input: clustering must come from the write
    )
    store.write_chunks(df, "t1m")

    part = os.path.join(str(tmp_path / "store"), "t1m", "chunk_key=2025-01-01-00")
    files = sorted(glob.glob(os.path.join(part, "*.parquet")))
    assert len(files) >= 3  # maxRecordsPerFile forced a split
    # composite (metric, bucket, window_start) ranges from actual first/
    # last rows (column-wise parquet min/max can't express a composite
    # ordering): files must be globally disjoint sorted runs
    runs = []
    for f in files:
        t = pq.read_table(f, columns=["metric", "bucket", "window_start"])
        rows = list(zip(*[t.column(c).to_pylist() for c in ("metric", "bucket", "window_start")]))
        assert rows == sorted(rows), f"{f} is not internally sorted"
        runs.append((rows[0], rows[-1]))
    runs.sort()
    for (_lo_a, hi_a), (lo_b, _hi_b) in zip(runs, runs[1:]):
        assert hi_a <= lo_b, f"overlapping file runs: {hi_a} > {lo_b}"
    # and parquet stats are now selective: most files' footers exclude
    # part of the (bucket, metric) key space (an unsorted write gives
    # every file the FULL min..max range — zero pruning power)
    selective = 0
    for f in files:
        md = pq.read_metadata(f)
        cols = {md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i)
                for i in range(md.row_group(0).num_columns)}
        b, m = cols["bucket"].statistics, cols["metric"].statistics
        if (b.min, b.max) != (0, 7) or (m.min, m.max) != ("m0", "m3"):
            selective += 1
    assert selective >= len(files) * 3 // 4, f"{selective}/{len(files)} selective"


def test_hash_sampling_is_shuffle_free(spark):
    """hash_sample / stratified_sample / split_corpus are map-side only:
    no Exchange anywhere in their plans — the property that lets sampled
    scans keep their pushed-down filters and partition pruning."""
    from beamium_spark.operators.sampling import (
        hash_sample,
        split_corpus,
        stratified_sample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        hash_sample(docs, 0.3),
        stratified_sample(docs, {"en": 0.5}, stratum_col="lang"),
        split_corpus(docs, {"train": 0.9, "val": 0.1}),
    ):
        plan = _plan(df)
        assert "Exchange" not in plan, plan


def test_verify_prune_shapes_both_ways(spark):
    """The candidate-id prune must follow the broadcast_ids knob even with
    the planner's auto-broadcast disabled: True → the hint forces a
    BroadcastHashJoin LeftSemi (the sane-dup-rate shape); False → a
    shuffled LeftSemi on the narrow id key (the mostly-duplicate-corpus
    shape that can never blow the broadcast limit)."""
    import re

    from beamium_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        hinted = _formatted_plan(minhash_lsh_pairs(docs, threshold=0.8))
        assert re.search(r"BroadcastHashJoin.*LeftSemi", hinted), hinted
        plain = _formatted_plan(
            minhash_lsh_pairs(docs, threshold=0.8, broadcast_ids=False)
        )
        semis = [
            ln for ln in plain.splitlines() if "LeftSemi" in ln and "Join" in ln
        ]
        assert semis, plain
        assert not any("Broadcast" in ln for ln in semis), semis
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        if old_aqe is not None:
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def _exchange_blocks(df):
    """[(node_id, first_line, input/arguments text)] for every Exchange in
    the formatted plan."""
    import re

    plan = _formatted_plan(df)
    _tree, _, details = plan.partition("\n\n")
    out = []
    for m in re.finditer(
        r"^\((\d+)\) (Exchange[^\n]*)\n((?:(?!^\(\d+\) ).*\n?)*)", details, re.M
    ):
        blk = m.group(3)
        inp = "\n".join(
            ln for ln in blk.splitlines() if ln.startswith(("Input", "Arguments"))
        )
        out.append((int(m.group(1)), m.group(2), inp))
    return out


def _assert_no_text_in_exchanges(df, col="text#"):
    exchanges = _exchange_blocks(df)
    assert exchanges, "expected at least one Exchange"
    for nid, first, inp in exchanges:
        assert col not in inp, (
            f"exchange {nid} ships the raw document body: {first}\n{inp}"
        )


def test_lm_training_and_scoring_never_shuffle_text(spark):
    """The bigram LM's shuffles carry tokens/pairs/ids + partial counts —
    the document body never enters an exchange, in training or scoring
    (the docstring's scale contract, plan-pinned)."""
    from beamium_spark.operators.lm import score_bigram_lm, train_bigram_lm

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(4)],
        "doc_id long, text string",
    )
    lm = train_bigram_lm(docs, min_count=1)
    _assert_no_text_in_exchanges(lm.uni)
    _assert_no_text_in_exchanges(lm.big)
    _assert_no_text_in_exchanges(
        score_bigram_lm(docs, lm).select("doc_id", "n_bigrams", "avg_logprob")
    )


def test_domain_stats_exchange_is_narrow(spark):
    """domain_stats' single exchange carries (domain, partial aggs) —
    score and hashes are computed map-side; text never shuffles."""
    from beamium_spark.operators.textstats import corpus_report, domain_stats

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", "some words here for the score") for i in range(6)],
        "doc_id long, source string, text string",
    )
    _assert_no_text_in_exchanges(domain_stats(docs))
    _assert_no_text_in_exchanges(corpus_report(docs))


def test_incremental_neardup_band_exchanges_are_narrow(spark):
    """minhash_dedup_incremental: exchanges keyed on the band buckets
    carry only (id, band, bh) — never the text or the gram arrays."""
    from beamium_spark.operators.dedup import minhash_dedup_incremental

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(4)],
        "doc_id long, text string",
    )
    kept, new_bands = minhash_dedup_incremental(docs, None, num_hashes=16, bands=8)
    for nid, first, inp in _exchange_blocks(new_bands):
        if "hashpartitioning(band" in inp or "hashpartitioning(bh" in inp \
                or "band#" in inp:
            assert "text#" not in inp and "__grams#" not in inp, (
                f"band exchange {nid} carries wide payload: {first}"
            )


def test_snapshot_diff_exchanges_are_narrow(spark):
    """snapshot_diff: both sides reduce to (key, h1, h2) before the
    full-outer join — no exchange carries text."""
    from beamium_spark.operators.dedup import snapshot_diff

    docs = spark.createDataFrame(
        [(i, "body text") for i in range(4)], "doc_id long, text string"
    )
    _assert_no_text_in_exchanges(snapshot_diff(docs, docs))


def test_semantic_dedup_assignment_is_projection(spark):
    """SemDeDup's cell assignment must stay a pure projection against
    the broadcast codebook: the plan up to the within-cell self-join
    contains no Exchange introduced by assignment itself — the narrow
    (id, cent_id) frame is derivable scan-side."""
    from beamium_spark.operators.similarity import (
        _nearest_centroid,
        train_centroids,
    )
    from pyspark.sql import functions as F

    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = train_centroids(vecs, 4, 0, "embedding", "vec_id")
    assigned = vecs.select(
        "vec_id",
        _nearest_centroid(
            F.transform("embedding", lambda x: x.cast("double")), cents
        ).alias("cent_id"),
    )
    assert "Exchange" not in _plan(assigned), _plan(assigned)


def test_bpe_pair_count_is_partial_plus_final(spark):
    """Every BPE iteration's pair count must map-side combine: partial
    aggregation below the exchange, so the shuffle carries (l, r,
    partial_n) — vocabulary-bounded, never token-bounded."""
    from beamium_spark.operators.bpe import _pair_counts, word_counts

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(_pair_counts(word_counts(docs)))
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_funnel_prefilters_before_collect(spark):
    """funnel must push the step-type filter BELOW the user exchange so
    per-user arrays carry only funnel-relevant events: the In/isin
    predicate appears on the scan side of the single Exchange."""
    import datetime as dt

    from beamium_spark.operators.funnel import funnel

    ev = spark.createDataFrame(
        [(1, dt.datetime(2025, 1, 1), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    plan = _plan(funnel(ev, ("view", "click")))
    assert plan.count("Exchange") == 1
    pre, post = plan.split("Exchange", 1)
    # the isin filter must sit below (after, in printed order) the exchange
    assert "event_type" in post and ("view" in post and "click" in post)
