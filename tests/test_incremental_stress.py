"""Stress the incremental sinks past toy state: many micro-batches,
edge/pair history far larger than the node set, periodic compaction.

The chaos tests (test_corpus_stream.py) prove exactly-once semantics;
THIS file pins the cost envelope the sink docstrings claim — per-batch
work O(|batch| + |state|), NOT O(cumulative history) — using Spark's
own task metrics (input + shuffle records from the AppStatusStore),
not wall time.  The sinks are plain foreachBatch callables, so the
batches are driven directly (no stream) to bracket metrics per batch.

Slow by design (~2 min): 20 micro-batches through each sink.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from cga_logs_to_kinesis_spark.streaming import corpus


def _max_stage_id(spark) -> int:
    """Highest stage id currently retained — the starting cursor."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    mx = -1
    for i in range(jobs.size()):
        sids = jobs.apply(i).stageIds()
        for k in range(sids.size()):
            mx = max(mx, sids.apply(k))
    return mx


def _work_since(spark, cursor: int) -> tuple[int, int]:
    """Records processed (input + shuffle read/write) by stages with
    id > ``cursor``, plus the advanced cursor.  Keyed by stage id —
    stage ids are globally monotone, so this is immune to the
    AppStatusStore evicting OLD stages mid-test (default retention is
    1000 stages; a shared full-suite session blows past that, which
    made cumulative-total deltas go NEGATIVE and the envelope
    assertions vacuous)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    defaults = [getattr(store, f"stageData$default${n}")()
                for n in range(2, 6)]
    seen: set[int] = set()
    total = 0
    mx = cursor
    for i in range(jobs.size()):
        sids = jobs.apply(i).stageIds()
        for k in range(sids.size()):
            sid = sids.apply(k)
            if sid <= cursor or sid in seen:
                continue
            seen.add(sid)
            mx = max(mx, sid)
            attempts = store.stageData(sid, *defaults)
            for a in range(attempts.size()):
                s = attempts.apply(a)
                total += int(s.inputRecords()
                             + s.shuffleReadRecords()
                             + s.shuffleWriteRecords())
    return total, mx


N_NODES = 800           # fixed doc universe
EDGES_PER_BATCH = 2000  # so 20 batches = 40 000 observations = 50x nodes
N_BATCHES = 20


def _edge_batch(spark, k: int):
    """Deterministic pseudo-random edges over the fixed node universe
    (no Date.now/random: affine xxhash on (batch, row))."""
    return (spark.range(EDGES_PER_BATCH)
            .select((F.abs(F.xxhash64(F.lit(k), "id")) % N_NODES)
                    .alias("doc_a"),
                    (F.abs(F.xxhash64(F.lit(k), "id", F.lit(7)))
                     % N_NODES).alias("doc_b"))
            .filter(F.col("doc_a") != F.col("doc_b")))


def test_components_sink_work_is_flat_under_unbounded_history(
        spark, tmp_path):
    """20 batches of edges over a FIXED node set: cumulative pair
    observations grow 20x but per-batch work must stay
    O(|batch edges| + |nodes|) — flat, because state is the label star
    (<= nodes rows), never the edge history.  Also pins store
    boundedness: every label version <= nodes rows, and keep-two
    compaction holds the store at <= 2 versions + the versions written
    since the last compact."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_label_store,
        components_incremental_sink,
    )

    store = str(tmp_path / "labels")
    sink = components_incremental_sink(store)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(N_BATCHES):
        sink(_edge_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
        if k % 8 == 7:                      # periodic compaction
            compact_label_store(store)
            versions = (spark.read.parquet(store)
                        .select("batch_id").distinct().count())
            assert versions <= 2, "store unbounded despite compaction"
            # compaction/assert stages are maintenance, not batch
            # work — advance the cursor past them
            _, cursor = _work_since(spark, cursor)
    # every version is a complete state: <= one row per known node
    per_version = (spark.read.parquet(store)
                   .groupBy("batch_id").count().collect())
    assert all(r["count"] <= N_NODES for r in per_version)
    # THE envelope: work on late batches (history ~40k observations)
    # vs early batches (history ~8k) — O(batch + nodes) means flat;
    # O(history) would grow ~4x between the windows, O(history^2) 16x.
    early = sum(work[2:8]) / 6
    late = sum(work[14:20]) / 6
    assert late <= 3.0 * early, (
        f"per-batch work grew with edge history: early={early:.0f} "
        f"late={late:.0f} records/batch — state is supposed to be "
        f"the O(nodes) label star")


VEC_DIM = 64            # must match the LSH plane matrix (EMBED_DIM)
VECS_PER_BATCH = 150
ANN_BATCHES = 20


def _vec_batch(spark, k: int):
    cols = [((F.xxhash64(F.lit(k), "id", F.lit(j)) % 97) / 97.0)
            .cast("float") for j in range(VEC_DIM)]
    return (spark.range(VECS_PER_BATCH)
            .select((F.lit(k * VECS_PER_BATCH) + F.col("id"))
                    .alias("vec_id"),
                    F.array(*cols).alias("embedding")))


def test_ann_sink_work_grows_linearly_not_quadratically(
        spark, tmp_path):
    """20 vector batches through the LSH index sink.  Per-batch work
    is O(|batch| + |store|): the store read grows linearly as vectors
    accumulate, but scoring touches only same-bucket candidates — a
    re-score of the whole corpus would be O(|store| x |batch|) on the
    join and the pair counts would grow with it.  With the store 3.6x
    larger between the measurement windows, linear-envelope work may
    grow ~3.6x (+ slack); the quadratic rescore shape would be ~13x."""
    from cga_logs_to_kinesis_spark.streaming.corpus import ann_index_sink

    sink = ann_index_sink(str(tmp_path / "idx"), str(tmp_path / "vecs"),
                          str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(ANN_BATCHES):
        sink(_vec_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[3:6]) / 3       # store ~450-750 vectors
    late = sum(work[17:20]) / 3      # store ~2550-2850 vectors
    assert late <= 6.0 * early, (
        f"per-batch ANN work grew superlinearly: early={early:.0f} "
        f"late={late:.0f} records/batch — bucketed scoring is "
        f"supposed to keep the candidate join off the full corpus")
    # the index store is N_TABLES rows per vector, the vector store
    # one row per vector — both linear in vectors seen, never pairs
    n_vecs = ANN_BATCHES * VECS_PER_BATCH
    assert spark.read.parquet(str(tmp_path / "vecs")).count() == n_vecs
    idx_rows = spark.read.parquet(str(tmp_path / "idx")).count()
    assert idx_rows % n_vecs == 0    # exactly N_TABLES buckets per vec


N_TEXTS = 2000          # bounded text universe for the digest sink
DOCS_PER_BATCH = 1000
DEDUP_BATCHES = 20


def _dup_doc_batch(spark, k: int):
    """Unique doc ids, texts drawn from a FIXED universe — cumulative
    arrivals grow 20x while digest state saturates at N_TEXTS."""
    return (spark.range(DOCS_PER_BATCH)
            .select((F.lit(k * DOCS_PER_BATCH) + F.col("id"))
                    .alias("doc_id"),
                    F.concat(F.lit("document body "),
                             F.abs(F.xxhash64(F.lit(k), "id"))
                             % N_TEXTS).alias("text")))


def test_dedup_sink_work_is_flat_once_state_saturates(spark, tmp_path):
    """20 batches over a fixed text universe: arrivals grow 20x but
    the digest store saturates at <= N_TEXTS rows, so per-batch work
    must be O(|batch| + |store|) — flat between the measurement
    windows.  Work that tracked cumulative arrivals (re-digesting
    output history, appending instead of anti-joining) would grow ~4x
    between the windows."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        incremental_dedup_sink,
    )

    store = str(tmp_path / "digests")
    sink = incremental_dedup_sink(store, str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(DEDUP_BATCHES):
        sink(_dup_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    # state is one digest per unique text ever seen — never arrivals
    assert spark.read.parquet(store).count() <= N_TEXTS
    early = sum(work[2:8]) / 6
    late = sum(work[14:20]) / 6
    assert late <= 3.0 * early, (
        f"per-batch dedup work grew with arrival history: "
        f"early={early:.0f} late={late:.0f} records/batch — the "
        f"anti-join state is supposed to be the bounded digest store")


MH_DOCS_PER_BATCH = 100
MH_BATCHES = 20


def _mh_doc_batch(spark, k: int):
    """Unique pseudo-random texts (shingle-able length) so the band
    index grows linearly and bucket collisions stay rare."""
    words = [F.concat(F.lit(f"w{j}t"),
                      F.abs(F.xxhash64(F.lit(k), "id", F.lit(j))) % 9973)
             for j in range(12)]
    body = F.concat_ws(" ", *words)
    return (spark.range(MH_DOCS_PER_BATCH)
            .select((F.lit(k * MH_DOCS_PER_BATCH) + F.col("id"))
                    .alias("doc_id"),
                    body.alias("text")))


def test_minhash_sink_work_grows_linearly_not_quadratically(
        spark, tmp_path):
    """20 crawl drops through the band-index sink.  Per-batch work is
    O(|batch| + |index store|): the index read grows linearly as docs
    accumulate, but scoring touches only same-band-bucket candidates —
    re-banding or re-scoring the seen corpus against the batch would
    be O(|store| x |batch|) and the join records would grow with it.
    Store ~4.5x larger between windows: linear-envelope work may grow
    ~4.5x (+ slack); the quadratic rescore shape would be ~20x."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        minhash_incremental_sink,
    )

    idx = str(tmp_path / "idx")
    sink = minhash_incremental_sink(idx, str(tmp_path / "sh"),
                                    str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(MH_BATCHES):
        sink(_mh_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[3:6]) / 3       # index ~300-500 docs
    late = sum(work[17:20]) / 3      # index ~1700-1900 docs
    assert late <= 8.0 * early, (
        f"per-batch minhash work grew superlinearly: "
        f"early={early:.0f} late={late:.0f} records/batch — banded "
        f"bucketing is supposed to keep scoring off the full corpus")
    # the index is exactly N_BANDS rows per doc, the shingle store one
    # row per doc — linear in docs seen, never in pairs
    n_docs = MH_BATCHES * MH_DOCS_PER_BATCH
    idx_rows = spark.read.parquet(idx).count()
    assert idx_rows % n_docs == 0
    assert spark.read.parquet(str(tmp_path / "sh")).count() == n_docs


# ---------------------------------------------------------------------------
# r12: measured envelopes for the remaining store families.  Most of
# these sinks read NO cross-batch state (pure per-batch folds), so
# their envelope is strictly flat; the funnel sink reads its per-user
# state back, so its envelope is flat only once the user universe
# saturates — exactly the dedup-sink shape.
# ---------------------------------------------------------------------------

HH_BATCHES = 12


def _lineitem_batch(spark, k: int, n=1000):
    """Deterministic lineitem-shaped batch over FIXED value universes
    (so the distinct-value store saturates)."""
    h = lambda j: F.abs(F.xxhash64(F.lit(k), "id", F.lit(j)))  # noqa: E731
    return spark.range(n).select(
        (h(1) % 5000).alias("l_orderkey"),
        (h(2) % 200).alias("l_partkey"),
        (h(3) % 10).alias("l_suppkey"),
        (h(4) % 7).cast("int").alias("l_linenumber"),
        (h(5) % 50).cast("double").alias("l_quantity"),
        ((h(6) % 9000) / 100.0).alias("l_extendedprice"),
        ((h(7) % 10) / 100.0).alias("l_discount"),
        ((h(8) % 8) / 100.0).alias("l_tax"),
        F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                     (h(9) % 3 + 1).cast("int")).alias("l_returnflag"),
        F.element_at(F.array(F.lit("F"), F.lit("O")),
                     (h(10) % 2 + 1).cast("int")).alias("l_linestatus"),
        F.timestamp_seconds(F.lit(800000000) + (h(11) % 1000) * 86400)
        .alias("l_shipdate"))


def _audit_batch(spark, k: int, n=800):
    h = F.abs(F.xxhash64(F.lit(k), "id"))
    text = F.concat(F.lit("body "), (h % 2000).cast("string"))
    return spark.range(n).select(
        (F.lit(k * 10_000) + F.col("id")).alias("doc_id"),
        text.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
        F.length(text).cast("long").alias("n_chars"),
        F.when(h % 17 == 0, F.lit("<<garbage>>"))
        .otherwise(F.lit(None).cast("string")).alias("_corrupt_record"),
        (h % 4).alias("shard"))


FOOTER = "\nshared footer line for every document"


def _sourced_batch(spark, k: int):
    return _dup_doc_batch(spark, k).withColumn(
        "source", (F.col("doc_id") % 4).cast("string"))


def _drift_batch(spark, k: int):
    return _sourced_batch(spark, k).withColumn(
        "lang", (F.col("doc_id") % 3).cast("string"))


def _footer_batch(spark, k: int):
    return _dup_doc_batch(spark, k).withColumn(
        "text", F.concat("text", F.lit(FOOTER)))


def _sourced_footer_batch(spark, k: int):
    return _sourced_batch(spark, k).withColumn(
        "text", F.concat("text", F.lit(FOOTER)))


def _skew_batch(spark, k: int):
    return (_dup_doc_batch(spark, k)
            .select(F.lit("token").alias("key_col"),
                    F.col("text").alias("k")))


def _class_batch(spark, k: int):
    return _dup_doc_batch(spark, k).withColumn(
        "lang", F.when(F.col("doc_id") % 3 == 0, "en").otherwise("xx"))


def _ivf_sink(spark, d):
    cents = (_vec_batch(spark, 999).limit(8)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("cent"))
             .localCheckpoint())
    return corpus.ivf_index_sink(d("assign"), d("codes"), d("vecs"), cents)


def _ivf_index_grew_linearly(spark, d):
    """One assignment and one SQ8 code per vector ever written."""
    n = HH_BATCHES * VECS_PER_BATCH
    assert spark.read.parquet(d("assign")).count() == n
    assert spark.read.parquet(d("codes")).count() == n


def _bloom_store_bounded(spark, d):
    """At most BLOOM_BITS distinct positions per batch partition."""
    from cga_logs_to_kinesis_spark.operators.sketches import BLOOM_BITS

    per_batch = (spark.read.parquet(d("bloom"))
                 .groupBy("batch_id").count().collect())
    assert all(r["count"] <= BLOOM_BITS for r in per_batch)


def _class_store_bounded(spark, d):
    """At most B hashed-bucket rows per batch partition."""
    import glob

    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        QCLF_BUCKETS,
    )
    for part in glob.glob(d("class_counts") + "/batch_id=*"):
        assert spark.read.parquet(part).count() <= QCLF_BUCKETS


# Families whose sink folds ITS OWN batch only (no cross-batch read):
# per-batch work must stay strictly flat while the store grows
# underneath.  name -> (sink(spark, d), batch(spark, k), extra check
# or None), where d(sub) is a path under the test's tmp dir.
FLAT_ENVELOPES = {
    "heavy_hitters": (
        lambda spark, d: corpus.heavy_hitters_sink(d("mg")),
        _dup_doc_batch, None),
    "table_profile": (
        lambda spark, d: corpus.table_profile_sink(d("p"), d("v")),
        _lineitem_batch, None),
    "ingest_audit": (
        lambda spark, d: corpus.ingest_audit_sink(d("audit")),
        _audit_batch, None),
    "bloom_positions": (
        lambda spark, d: corpus.bloom_positions_sink(d("bloom")),
        _dup_doc_batch, _bloom_store_bounded),
    "ivf": (_ivf_sink, _vec_batch, _ivf_index_grew_linearly),
    "encoding_anomaly": (
        lambda spark, d: corpus.encoding_anomaly_sink(d("enc")),
        _sourced_batch, None),
    "novelty": (
        lambda spark, d: corpus.novelty_sink(d("fps"), d("docs")),
        _dup_doc_batch, None),
    "script_mixing": (
        lambda spark, d: corpus.script_mixing_sink(d("scripts")),
        _sourced_batch, None),
    "skew_freq": (
        lambda spark, d: corpus.skew_freq_sink(d("freqs")),
        _skew_batch, None),
    "corpus_drift": (
        lambda spark, d: corpus.corpus_drift_sink(
            d("sums"), d("vals"), max_doc_id=HH_BATCHES * 1000),
        _drift_batch, None),
    "line_df": (
        lambda spark, d: corpus.line_df_sink(d("line_df")),
        _footer_batch, None),
    "line_source": (
        lambda spark, d: corpus.line_source_sink(d("line_src")),
        _sourced_footer_batch, None),
    "token_count": (
        lambda spark, d: corpus.token_count_sink(d("tok_counts")),
        _sourced_batch, None),
    "hll": (
        lambda spark, d: corpus.hll_distinct_sink(d("hll"),
                                                  key_col="source"),
        _sourced_batch, None),
    "bigram_count": (
        lambda spark, d: corpus.bigram_count_sink(d("bigram_counts")),
        _dup_doc_batch, None),
    "class_count": (
        lambda spark, d: corpus.class_count_sink(d("class_counts")),
        _class_batch, _class_store_bounded),
    "bpe_vocab": (
        lambda spark, d: corpus.bpe_vocab_sink(d("word_freqs")),
        _dup_doc_batch, None),
}


def _assert_work_is_flat(spark, tmp_path, name: str) -> None:
    make_sink, batch, check = FLAT_ENVELOPES[name]

    def d(sub: str) -> str:
        return str(tmp_path / sub)

    sink = make_sink(spark, d)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[1:5]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch {name} work grew with store history: "
        f"early={early:.0f} late={late:.0f} records/batch")
    if check is not None:
        check(spark, d)


def _flat_envelope_test(name: str):
    def test(spark, tmp_path):
        _assert_work_is_flat(spark, tmp_path, name)

    test.__name__ = test.__qualname__ = f"test_{name}_sink_work_is_flat"
    test.__doc__ = (f"The {name} sink's per-batch work stays flat as "
                    "its store grows (FLAT_ENVELOPES).")
    return test


# One test per table row, named as before the table existed so each
# family's envelope keeps its own stable test id.
for _name in FLAT_ENVELOPES:
    globals()[f"test_{_name}_sink_work_is_flat"] = _flat_envelope_test(
        _name)


FUNNEL_USERS = 400
FUNNEL_EVENTS_PER_BATCH = 1500


def _funnel_batch(spark, k: int):
    """Funnel-feed batch over a FIXED user universe: per-user state
    saturates while cumulative event history grows without bound."""
    h = F.abs(F.xxhash64(F.lit(k), "id"))
    stage = F.element_at(
        F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
        (h % 3 + 1).cast("int"))
    return spark.range(FUNNEL_EVENTS_PER_BATCH).select(
        (h % FUNNEL_USERS).alias("user_id"),
        stage.alias("event_type"),
        (F.abs(F.xxhash64(F.lit(k), "id", F.lit(3)))
         % 200_000_000_000).alias("us"))


def test_funnel_sink_work_is_flat_once_users_saturate(spark, tmp_path):
    """The funnel sink reads the previous per-user state version and
    folds the batch in: work is O(|batch| + |state|), and state is
    bounded by the user universe x candidate times within the gap
    windows (anchor pruning), NOT by cumulative event history."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        compact_funnel_state_store,
        funnel_state_sink,
    )

    store = str(tmp_path / "funnel")
    sink = funnel_state_sink(store)
    work = []
    cursor = _max_stage_id(spark)
    for k in range(HH_BATCHES):
        sink(_funnel_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
        if k % 5 == 4:
            compact_funnel_state_store(store)
            _, cursor = _work_since(spark, cursor)
    early = sum(work[2:6]) / 4
    late = sum(work[8:12]) / 4
    assert late <= 3.0 * early, (
        f"per-batch funnel work grew with event history: "
        f"early={early:.0f} late={late:.0f} records/batch — state is "
        f"supposed to be the pruned per-user candidate lists")
    # state rows bounded: <= users x stages per version
    import pyspark.sql.functions as SF
    latest = (spark.read.parquet(store)
              .agg(SF.max("batch_id")).first()[0])
    n_state = (spark.read.parquet(store)
               .filter(SF.col("batch_id") == latest).count())
    assert n_state <= FUNNEL_USERS * 3


def test_setjoin_index_sink_work_grows_linearly_not_quadratically(
        spark, tmp_path):
    """20 crawl drops through the EXACT prefix-index sink.  Per-batch
    work is O(|batch| + |index store|): the index read grows linearly
    as docs accumulate, but the candidate join touches only
    same-prefix-fp rows — with unique pseudo-random texts the prefix
    fps are essentially distinct, so candidates stay near zero while
    the store grows 20x.  A rescore-the-corpus shape would grow the
    join records with |store| x |batch|.  Same envelope bound as the
    minhash sibling (store ~4.5x larger between windows: linear work
    may grow ~4.5x + slack; quadratic would be ~20x)."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        setjoin_index_sink,
    )

    idx = str(tmp_path / "pidx")
    sets_dir = str(tmp_path / "sets")
    sink = setjoin_index_sink(idx, sets_dir, str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(MH_BATCHES):
        sink(_mh_doc_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[3:6]) / 3
    late = sum(work[17:20]) / 3
    assert late <= 8.0 * early, (
        f"per-batch setjoin-index work grew superlinearly: "
        f"early={early:.0f} late={late:.0f} records/batch — the "
        f"prefix index is supposed to keep the exact join off the "
        f"full corpus")
    # the fp-set store is one row per doc; the prefix index is
    # n - ceil(n/2) + 1 entries per doc — strictly sub-set-size,
    # linear in docs seen, never in pairs
    n_docs = MH_BATCHES * MH_DOCS_PER_BATCH
    assert spark.read.parquet(sets_dir).count() == n_docs
    idx_rows = spark.read.parquet(idx).count()
    sizes = spark.read.parquet(sets_dir).select(
        F.size("fps").alias("n")).agg(
        F.sum(F.expr("n - ((n + 1) div 2) + 1"))).collect()[0][0]
    assert idx_rows == sizes


def test_semdedup_assign_sink_work_grows_linearly_not_quadratically(
        spark, tmp_path):
    """20 vector batches through the SemDeDup assignment sink.
    Per-batch work is O(|batch| x K) assignment + O(|batch| x
    |store| / K) blocked pairs — linear in the store (the ANN sink's
    envelope; the centroid artifact is fixed, so nothing is ever
    re-assigned).  With the store 3.6x larger between the windows,
    linear work may grow ~3.6x (+ slack); an all-pairs or
    re-assign-the-corpus shape would be ~13x."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        seed_semdedup_centroids,
        semdedup_assign_sink,
    )

    assert seed_semdedup_centroids(
        _vec_batch(spark, 0), str(tmp_path / "cents")) == 8
    sink = semdedup_assign_sink(
        str(tmp_path / "cents"), str(tmp_path / "assign"),
        str(tmp_path / "vecs"), str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(ANN_BATCHES):
        sink(_vec_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[3:6]) / 3       # store ~450-750 vectors
    late = sum(work[17:20]) / 3      # store ~2550-2850 vectors
    assert late <= 6.0 * early, (
        f"per-batch SemDeDup work grew superlinearly: early={early:.0f} "
        f"late={late:.0f} records/batch — cluster blocking is supposed "
        f"to keep the pair join off the full corpus")
    # both stores linear in vectors seen, never in pairs
    n_vecs = ANN_BATCHES * VECS_PER_BATCH
    assert spark.read.parquet(str(tmp_path / "vecs")).count() == n_vecs
    assert spark.read.parquet(str(tmp_path / "assign")).count() == n_vecs


IMG_PER_BATCH = 150


def _media_batch(spark, k: int):
    """Planted-scene media over a contiguous doc_id block — group
    structure identical to the fixture builder's."""
    from cga_logs_to_kinesis_spark.operators.multimodal import (
        make_raw_media_scenes,
    )
    ids = (spark.range(IMG_PER_BATCH)
           .select((F.lit(k * IMG_PER_BATCH) + F.col("id"))
                   .alias("doc_id")))
    return make_raw_media_scenes(ids)


def test_image_index_sink_work_grows_linearly_not_quadratically(
        spark, tmp_path):
    """20 media batches through the image band-index sink.  Per-batch
    work is O(|batch| decode) + O(|batch| x |store| / bands) banded
    candidates — linear in the store (the ANN envelope, one modality
    over); a re-hash-the-corpus shape would be ~13x between the
    measurement windows."""
    from cga_logs_to_kinesis_spark.streaming.corpus import (
        image_index_sink,
    )

    sink = image_index_sink(str(tmp_path / "idx"),
                            str(tmp_path / "fps"),
                            str(tmp_path / "out"))
    work = []
    cursor = _max_stage_id(spark)
    for k in range(ANN_BATCHES):
        sink(_media_batch(spark, k), k)
        delta, cursor = _work_since(spark, cursor)
        work.append(delta)
    early = sum(work[3:6]) / 3
    late = sum(work[17:20]) / 3
    assert late <= 6.0 * early, (
        f"per-batch image-index work grew superlinearly: "
        f"early={early:.0f} late={late:.0f} records/batch — band "
        f"blocking is supposed to keep the pair join off the corpus")
    n_imgs = ANN_BATCHES * IMG_PER_BATCH
    assert spark.read.parquet(str(tmp_path / "fps")).count() == n_imgs
    idx_rows = spark.read.parquet(str(tmp_path / "idx")).count()
    assert idx_rows == 4 * n_imgs    # exactly 4 band rows per image
