"""Streaming corpus preparation: the batch operators, as a stream.

A training-data pipeline at 100 TB doesn't re-scan the corpus per run
— new documents arrive continuously (crawl drops, upload batches) and
flow through the same filters incrementally.  This module composes the
batch corpus operators (``operators/text.py``,
``operators/llm_pipeline.py``) over a Structured Streaming source:

* quality filtering is the *same Column expressions* as the batch
  report (``quality_feature_columns``) applied inline — narrow, zero
  state, so batch/stream parity holds by construction and
  ``tests/test_corpus_stream.py`` asserts it row-for-row;
* exact dedup becomes ``dropDuplicates`` on the 16-byte text digest —
  Spark keeps first-seen digests as streaming state (the streaming
  twin of ``dedup_exact_survivors``).  State grows with distinct docs;
  for bounded state on true infinite streams, bound it with an
  event-time watermark (``dropDuplicatesWithinWatermark``,
  demonstrated in ``tests/test_watermark.py``) — the fixture documents
  carry no event time, so the backfill form here is the honest one;
* per-language running stats use update/complete-mode aggregation, the
  streaming twin of the batch ``corpus_stats`` report.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.operators.text import (
    quality_feature_columns,
)

# One definition of "keep" (the thresholds of
# operators/text.py::quality_filter_survivors), shared by the batch
# and streaming paths.
def keep_predicate() -> F.Column:
    c = quality_feature_columns()
    return ((c["n_tokens"] >= 10)
            & (c["punct_ratio"] <= 0.10)
            & (c["digit_ratio"] <= 0.20)
            & (c["mean_token_len"] >= 3.0)
            & (c["mean_token_len"] <= 12.0))


def stream_documents(spark: SparkSession, src_dir: str,
                     schema: str | None = None) -> DataFrame:
    """File stream over a documents-shaped parquet directory."""
    schema = schema or ("doc_id long, text string, lang string, "
                        "source string, n_chars long")
    return spark.readStream.schema(schema).parquet(src_dir)


def corpus_keep_filter(docs: DataFrame) -> DataFrame:
    """Quality-filtered survivors — identical semantics on batch and
    streaming inputs (a per-row predicate, no join, no state)."""
    return docs.filter(keep_predicate())


def streaming_dedup_exact(docs: DataFrame) -> DataFrame:
    """First-seen exact dedup on the text digest (streaming state =
    16-byte digests, never the text)."""
    return (docs.withColumn("digest", F.md5("text"))
            .dropDuplicates(["digest"]))


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a batch_id-keyed state store, or return ``None`` IFF the
    store has never been created (the genuine first-batch case).

    Two shapes count as "never created": the path is absent, or the
    path exists but holds NO data files — an EMPTY first micro-batch
    still runs the store write, which lays down the directory (and
    _SUCCESS) with zero parquet footers, and the next batch's read
    then fails schema inference; treating that as anything but empty
    state would wedge the stream permanently (every replay re-raises
    before the store ever gains a footer).

    Any other read failure PROPAGATES: a transient filesystem/object-
    store error or a corrupt footer mistaken for "first batch" would
    make the sink recompute from empty state — and for the label store
    (``components_incremental_sink``), whose newest version is
    authoritative forever, that silently and permanently discards
    every cluster learned so far.  Crash-and-replay is the correct
    behavior; state amnesia is not.  (The no-data-file probe below
    uses a local glob — swap for the Hadoop FS listing when the store
    lives on an object store.)"""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        klass = ""
        # getCondition is the Spark 4 name; getErrorClass its
        # deprecated 3.x alias — probe in that order so the guard
        # survives either direction of a version bump.
        for probe in ("getCondition", "getErrorClass"):
            try:
                klass = getattr(e, probe)() or ""
                break
            except Exception:
                continue
        msg = str(e)
        if "PATH_NOT_FOUND" in klass or "Path does not exist" in msg:
            return None
        if ("UNABLE_TO_INFER_SCHEMA" in klass
                or "Unable to infer schema" in msg):
            import glob as _glob
            import os as _os
            data = [p for p in _glob.glob(
                        _os.path.join(path, "**", "*"), recursive=True)
                    if _os.path.isfile(p)
                    and not _os.path.basename(p).startswith(("_", "."))]
            if not data:
                return None          # empty store: first-batch semantics
        raise


# ---------------------------------------------------------------------------
# The exactly-once discipline every store family shares, declared once
# ---------------------------------------------------------------------------
# Each foreachBatch sink writes its batch's rows as a dynamic-overwrite
# ``batch_id=`` partition (a replay overwrites itself instead of
# appending a duplicate), reads cross-batch state strictly BELOW the
# current batch id (a replay after the last write, before the
# checkpoint commit, sees pre-batch state), and carries fault hooks
# that crash once per listed batch id.  The helpers below are the only
# place that discipline is written down.

def _write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``batch_id=<batch_id>`` partition of the
    store at ``path``, replacing only that partition."""
    (df.withColumn("batch_id", F.lit(batch_id))
     .write.mode("overwrite")
     .options(partitionOverwriteMode="dynamic")
     .partitionBy("batch_id").parquet(path))


def _crash_once():
    """Fault-injection hook for one sink (same philosophy as
    streaming/faults.py): ``crash(batch_id, ids, where)`` raises
    FatalDeliveryError the first time a batch id listed in ``ids``
    reaches it, and never again for that id at any hook point of the
    sink — so the replay runs clean."""
    from cga_logs_to_kinesis_spark.streaming.sink import (
        FatalDeliveryError,
    )

    already_failed: set[int] = set()

    def crash(batch_id: int, ids: tuple[int, ...], where: str) -> None:
        if batch_id in ids and batch_id not in already_failed:
            already_failed.add(batch_id)
            raise FatalDeliveryError(
                f"injected crash {where}, batch {batch_id}")

    return crash


def _prior_state(spark: SparkSession, batch_id: int,
                 *stores: tuple[str, str],
                 optional: tuple[str, ...] = ()) -> list[DataFrame]:
    """Pre-batch state of each ``(path, schema)`` store: the rows with
    ``batch_id < current``, projected to the schema's columns.  If ANY
    store has never been created, every store reads as empty by its
    schema — the stores are written together, so a partial set is the
    first batch crashing mid-write.  Columns named in ``optional`` are
    skipped where an older store lacks them."""
    empty = [spark.createDataFrame([], schema) for _, schema in stores]
    found = [_read_store(spark, path) for path, _ in stores]
    if any(s is None for s in found):
        return empty
    return [s.filter(F.col("batch_id") < F.lit(batch_id))
            .select(*[c for c in e.columns
                      if c in s.columns or c not in optional])
            for s, e in zip(found, empty)]


def _prior_version(spark: SparkSession, path: str,
                   batch_id: int) -> DataFrame | None:
    """The newest complete state version strictly below ``batch_id``
    in a versioned store (one full state per partition), or None on
    the first batch."""
    store = _read_store(spark, path)
    if store is None:
        return None
    below = store.filter(F.col("batch_id") < F.lit(batch_id))
    prev_max = below.agg(F.max("batch_id")).first()[0]
    if prev_max is None:
        return None
    return below.filter(F.col("batch_id") == prev_max)


def _partials_sink(store_dir: str, front,
                   fail_after_write_for: tuple[int, ...]):
    """foreachBatch sink writing ``front(batch_df)`` — the batch's
    mergeable partials — as its own ``batch_id`` partition.  It reads
    nothing across batches, so no ``batch_id < current`` filter is
    needed: a replay re-derives the same partials from the same files
    and overwrites its own partition identically."""
    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(front(batch_df), batch_id, store_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def _batch_ids(store_dir: str) -> list[int]:
    """The ``batch_id`` partition values present on disk."""
    import os

    return [int(name.split("=", 1)[1]) for name in os.listdir(store_dir)
            if name.startswith("batch_id=")]


def _drop_batches(store_dir: str, bids: list[int]) -> int:
    """Delete the listed ``batch_id`` partitions; returns how many."""
    import os
    import shutil

    for bid in bids:
        shutil.rmtree(os.path.join(store_dir, f"batch_id={bid}"))
    return len(bids)


# Summing stores: each family declares ONE merge — its group keys and
# a ``fold(grouped)`` returning the merge aggregates — and both its
# reader (_fold_store) and its compactor (_compact_mergeable_store)
# apply that declaration, so fold-after-compaction == fold-before by
# construction.

def _effective_mg_summaries(s: DataFrame) -> DataFrame:
    """The live rows of a summing store: the newest base
    partition (most-negative ``batch_id``; ``-(upto+2)`` encodes that
    it folds every batch partition ``<= upto``) plus batch partitions
    ABOVE its fold watermark.  Encoding the watermark in the
    partition id — instead of the digest stores' plain ``-1`` base —
    is what makes compaction crash-safe for a SUMMING consumer: a
    crash between the base write and the old-partition cleanup leaves
    stale dirs behind, and a reader that summed base + stale batches
    would double-count; here stale batches sit at or below the
    watermark and are excluded by construction, so the leftover is
    dead weight, not corruption (re-run compaction to finish the
    cleanup)."""
    min_bid = s.agg(F.min("batch_id")).first()[0]
    if min_bid is not None and min_bid < -1:
        upto = -min_bid - 2
        return s.filter((F.col("batch_id") == min_bid)
                        | (F.col("batch_id") > upto))
    return s


def _cleanup_stale_mg_dirs(store_dir: str, base_bid: int) -> int:
    """Remove batch directories a summing reader already ignores:
    older base partitions and batch partitions at or below the live
    base's fold watermark (``-base_bid - 2``).  Safe to run any time
    ``base_bid`` is the newest (most-negative) base on disk."""
    watermark = -base_bid - 2
    return _drop_batches(store_dir, [
        b for b in _batch_ids(store_dir)
        if b != base_bid and (b < -1 or 0 <= b <= watermark)])


def _sums(*cols: str) -> list:
    return [F.sum(c).alias(c) for c in cols]


def _sum_fold(*cols: str):
    """Merge aggregates for a pure-counts partials store."""
    return lambda g: g.agg(*_sums(*cols))


def _fold_store(spark: SparkSession, store_dir: str, group_cols: list[str],
                fold) -> DataFrame | None:
    """A summing store's live rows re-folded by the family's merge, or
    None if the store has never been created."""
    s = _read_store(spark, store_dir)
    if s is None:
        return None
    return fold(_effective_mg_summaries(s).groupBy(*group_cols))


def _compact_mergeable_store(spark: SparkSession, store_dir: str,
                             upto_batch_id: int,
                             group_cols: list[str],
                             fold,
                             files_per_partition: int = 1) -> int:
    """Generic compactor for a MERGEABLE-partials store: fold batch
    partitions at or below ``upto_batch_id`` (plus any existing base)
    into one merged base at ``batch_id = -(max_folded + 2)`` — the
    heavy-hitters watermark discipline, because a folding consumer
    must never see base + stale batch rows together (see
    _effective_mg_summaries).  ``max_folded`` is the HIGHEST batch id
    actually folded, so an ``upto_batch_id`` ahead of the stream
    cannot write a watermark that would silently exclude batches that
    arrive later.  ``fold(grouped)`` supplies the merge aggregates
    (sums / mins / maxes — whatever the family's partials re-fold
    with).  Run with the stream stopped; re-run to finish an
    interrupted cleanup."""
    df = _read_store(spark, store_dir)
    if df is None:
        return 0
    live = _effective_mg_summaries(df)
    fold_sel = (F.col("batch_id") < -1) | (F.col("batch_id")
                                           <= upto_batch_id)
    to_fold = live.filter(fold_sel)
    stats = (to_fold.filter(F.col("batch_id") >= 0)
             .agg(F.countDistinct("batch_id").alias("n"),
                  F.max("batch_id").alias("mx")).first())
    n_folded, max_folded = stats["n"], stats["mx"]
    if n_folded == 0:
        # Nothing new to fold — but a prior run may have crashed
        # between its base write and its cleanup, so finish it.
        min_bid = df.agg(F.min("batch_id")).first()[0]
        if min_bid is not None and min_bid < -1:
            _cleanup_stale_mg_dirs(store_dir, min_bid)
        return 0
    new_bid = -(max_folded + 2)
    merged = (fold(to_fold.groupBy(*group_cols))
              .coalesce(files_per_partition)
              .localCheckpoint())      # self-read: old base is input
    _write_batch(merged, new_bid, store_dir)
    # cleanup AFTER the new base is durable; stale dirs are ignored
    # by _effective_mg_summaries if this is interrupted
    _cleanup_stale_mg_dirs(store_dir, new_bid)
    return n_folded


def incremental_dedup_sink(store_dir: str, out_dir: str,
                           fail_after_output_for: tuple[int, ...] = (),
                           fail_after_all_writes_for:
                           tuple[int, ...] = ()):
    """foreachBatch twin of ``operators/dedup.py::dedup_incremental``:
    each arriving micro-batch is digested, anti-joined against the
    PERSISTED digest store (a parquet table that outlives the query —
    the cross-run state dropDuplicates can't give), deduped keep-first
    within the batch via the SAME ``incremental_dedup`` core as the
    batch operator (parity by construction), then survivors land in
    ``out_dir`` and their digests merge into the store.

    Only digests (16 B/doc) ever hit the store or the anti-join —
    text never leaves the batch scan.  At 100 TB the store is a
    digest-bucketed table and the anti-join shuffles digests only.

    EXACTLY-ONCE output: both writes are keyed by ``batch_id`` with
    dynamic partition overwrite, so a replayed batch overwrites its
    own partition instead of appending a duplicate.  A crash BETWEEN
    the two writes is safe — the replay recomputes the anti-join
    against pre-batch store state and overwrites identically — and so
    is a crash AFTER the last write but BEFORE the checkpoint commit
    (foreachBatch's at-least-once window): the store read filters
    ``batch_id < current``, so a replay can never anti-join the
    batch's own digests (which would wrongly drop every batch doc as
    already-seen).  Pinned by tests/test_corpus_stream.py::
    test_incremental_dedup_crash_between_writes_is_exactly_once and
    ..._crash_after_last_write_is_exactly_once.

    ``fail_after_output_for`` / ``fail_after_all_writes_for`` are the
    fault-injection hooks for those tests (same philosophy as
    streaming/faults.py): the listed batch ids raise
    FatalDeliveryError at that point, once each.
    """
    from cga_logs_to_kinesis_spark.operators.dedup import (
        incremental_dedup,
        normalized_text,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        digests = batch_df.select(
            "doc_id", F.md5(normalized_text()).alias("text_digest"))
        # partition pruning makes the batch_id < current filter a
        # directory skip, not a scan
        seen, = _prior_state(batch_df.sparkSession, batch_id,
                             (store_dir, "text_digest string"))
        # localCheckpoint: the survivor set feeds TWO writes (output +
        # store merge); without the cut the second write would
        # recompute the anti-join.
        survivors = incremental_dedup(seen, digests).localCheckpoint()
        _write_batch(survivors, batch_id, out_dir)
        crash(batch_id, fail_after_output_for, "between writes")
        _write_batch(survivors.select("text_digest"), batch_id, store_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def minhash_incremental_sink(index_dir: str, shingle_dir: str,
                             out_dir: str,
                             fail_after_all_writes_for:
                             tuple[int, ...] = ()):
    """foreachBatch twin of ``dedup_minhash_incremental``: each crawl
    drop is shingled ONCE, scored against the PERSISTED band-bucket
    index (never re-banding the seen corpus — the property that makes
    per-drop near-dedup feasible at 100 TB), then merged into the
    index and the shingle store.  All three writes are batch_id-keyed
    dynamic-overwrite partitions, so replays are exactly-once: a crash
    between writes replays against pre-batch store state and
    overwrites identically, and a crash AFTER the last write but
    BEFORE the checkpoint commit (foreachBatch's at-least-once window)
    is covered by the ``batch_id < current`` read filter — without it
    a replay would score the batch against an index containing its own
    docs and flag the entire drop as self-duplicate (8 common bands,
    jaccard 1.0).  ``minhash_incremental_from_index`` additionally
    drops ``batch_doc == seen_doc`` pairs as defense in depth.  Pinned
    by tests/test_corpus_stream.py::
    test_minhash_incremental_crash_after_last_write_is_exactly_once.

    Store sizing: the band index is 8 rows x ~50 B per doc; the
    shingle store is ~1x the text volume (needed only for the exact
    Jaccard verify — drop it and accept band-level candidates if
    verify-free operation is acceptable)."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        banded_buckets,
        minhash_incremental_from_index,
        shingle_docs,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sh = shingle_docs(batch_df).localCheckpoint()
        idx, seen_sh = _prior_state(
            batch_df.sparkSession, batch_id,
            (index_dir, "doc_id long, band2 int, sig2 string"),
            (shingle_dir, "doc_id long, shingles array<string>"))
        report = minhash_incremental_from_index(idx, seen_sh, sh) \
            .localCheckpoint()
        _write_batch(report, batch_id, out_dir)
        _write_batch(banded_buckets(sh), batch_id, index_dir)
        _write_batch(sh, batch_id, shingle_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def setjoin_index_sink(index_dir: str, sets_dir: str, out_dir: str,
                       fail_after_all_writes_for:
                       tuple[int, ...] = ()):
    """foreachBatch twin of ``setjoin_incremental``: each crawl drop
    is fingerprinted ONCE, exact-joined against the PERSISTED prefix
    index (never re-shingling the seen corpus), then merged into the
    index and the fp-set store — ``minhash_incremental_sink``'s
    three-write exactly-once discipline, with the EXACT operator:
    zero false negatives against everything already seen.  The index
    stays valid as batches accumulate because prefixes are cut under
    the fixed fp order (operators/setjoin.py::prefix_entries — a
    df-ordered prefix would be invalidated by every shift in document
    frequencies).  All three writes are batch_id-keyed
    dynamic-overwrite partitions; the ``batch_id < current`` read
    filter plus the operator's batch_doc != seen_doc guard cover the
    at-least-once replay window exactly as in the minhash sink.

    Store sizing: index entries per doc = n - ceil(T*n) + 1 ≈ half
    its distinct shingles (8 B fps); the fp-set store is ~1x the
    fingerprint volume (needed only for the exact verify)."""
    from cga_logs_to_kinesis_spark.operators.setjoin import (
        prefix_entries,
        setjoin_incremental_from_index,
        shingle_fp_sets,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sets = shingle_fp_sets(batch_df).localCheckpoint()
        # pre-r19 index partitions carry no pos column; the operator
        # reads them as pos=1 (loosest sound bound) — see
        # setjoin.py::prefix_entries' migration note.
        idx, seen_sets = _prior_state(
            batch_df.sparkSession, batch_id,
            (index_dir, "doc_id long, n int, pos int, fp long"),
            (sets_dir, "doc_id long, fps array<bigint>"),
            optional=("pos",))
        report = setjoin_incremental_from_index(idx, seen_sets, sets) \
            .localCheckpoint()
        _write_batch(report, batch_id, out_dir)
        _write_batch(prefix_entries(sets), batch_id, index_dir)
        _write_batch(sets, batch_id, sets_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def streaming_corpus_stats(docs: DataFrame) -> DataFrame:
    """Per-language running totals — streaming twin of the batch
    ``corpus_stats`` report (works in update/complete output modes)."""
    return (docs
            .withColumn("ntok", F.size(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+")))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars")))


def streaming_winnow(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprints over a document stream.

    The batch operator (``operators/corpus_quality.py::winnow``) is a
    pure row-local projection, so it composes with a streaming input
    unchanged — parity holds by construction, and the streaming plan
    stays stateless (no watermark, no state store)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import winnow
    return winnow(docs)


def streaming_prune_frequent_tokens(docs: DataFrame,
                                    stop_df: DataFrame) -> DataFrame:
    """Boilerplate pruning over a document stream.

    The document-frequency stop set is corpus-level state that a
    stream cannot derive from itself (it would change retroactively);
    the honest streaming decomposition is the one production pipelines
    use — fit the stop set on the existing corpus (the batch
    ``prune_frequent_tokens`` front half), then apply it to arriving
    documents as a stream-static broadcast join + the same row-local
    rewrite.  ``stop_df`` is a 1-row static DataFrame with a
    ``stop_list`` array column."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )
    kept = F.expr("filter(_toks, t -> NOT array_contains(stop_list, t))")
    return (docs.withColumn("_toks", norm_tokens())
            .crossJoin(F.broadcast(stop_df))
            .withColumn("_kept", kept)
            .select(
                "doc_id",
                F.size("_kept").cast("long").alias("n_kept"),
                (F.size("_toks") - F.size("_kept")).cast("long")
                .alias("n_removed"),
                F.concat_ws(" ", "_kept").alias("pruned_text")))


def fit_stop_tokens(docs: DataFrame, df_share: float = 0.5) -> DataFrame:
    """Batch front half for :func:`streaming_prune_frequent_tokens`:
    the 1-row stop-set DataFrame fitted on a static corpus."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )
    n_docs = docs.count()
    dtoks = docs.select(
        "doc_id", F.explode(F.array_distinct(norm_tokens())).alias("tok"))
    return (dtoks.groupBy("tok").agg(F.count("*").alias("nd"))
            .filter(F.col("nd") > df_share * n_docs)
            .agg(F.sort_array(F.collect_list("tok")).alias("stop_list")))


def streaming_doc_line_profile(docs: DataFrame) -> DataFrame:
    """Per-document line-structure profile over a document stream —
    the batch operator's columns are pure row-local projections
    (``operators/line_dedup.py::line_profile_columns``), so the twin
    composes unchanged (stateless, no watermark) and parity is
    bit-for-bit by construction.  The stream profiles the text AS IT
    ARRIVES (no poison — poison is the batch query's clean-fixture
    proof device, not part of the operator)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        line_profile_columns,
    )

    return docs.select("doc_id", *line_profile_columns().values())


def streaming_char_diversity(docs: DataFrame) -> DataFrame:
    """Gini–Simpson character diversity over a document stream — the
    batch operator is a pure row-local projection, so it composes
    unchanged (stateless, no watermark)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        char_diversity_frame,
    )
    return char_diversity_frame(docs)


def streaming_gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher rule battery over a document stream — the batch operator
    (``operators/lm_quality.py::gopher_quality_columns``) is a pure
    row-local projection, so it composes unchanged (stateless, no
    watermark) and parity is bit-for-bit by construction."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        gopher_quality_columns,
    )
    cols = gopher_quality_columns()
    return docs.select("doc_id", "lang", *cols.values())


def streaming_quality_classifier(docs: DataFrame) -> DataFrame:
    """The hashing-trick linear quality scorer over a document stream
    — the batch operator (``operators/lm_quality.py::
    classifier_scores``) is a pure row-local tokenize/hash/fold, so
    it composes unchanged (stateless, no watermark): the keep/drop
    gate runs AT INGEST, before anything hits the corpus store."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        classifier_scores,
    )
    return classifier_scores(docs)


def fit_bm25_model(spark, docs: DataFrame) -> DataFrame:
    """Batch front half for :func:`streaming_bm25_score`: the 1-row
    retrieval model fitted on the existing corpus — corpus scalars
    (n_docs, avgdl) plus per-query-term document frequencies.  This is
    the decomposition production retrieval uses: statistics fitted
    offline, applied to arriving documents online (a stream cannot
    derive corpus-level df/avgdl from itself without its scores
    changing retroactively — same honesty note as the stop-set fit)."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        BM25_QUERY_TERMS,
        norm_tokens,
    )
    toks = docs.select(
        "doc_id", F.explode(norm_tokens()).alias("tok"))
    qterms = spark.createDataFrame(
        [(t,) for t in BM25_QUERY_TERMS], "tok string")
    tf = (toks.join(F.broadcast(qterms), "tok")
          .groupBy("doc_id", "tok").agg(F.count("*").alias("tf")))
    dfs = (tf.groupBy("tok").agg(F.count("*").alias("df"))
           .agg(F.sort_array(F.collect_list(F.struct("tok", "df")))
                .alias("terms")))
    stats = (toks.agg(F.count("*").cast("double").alias("_total"))
             .crossJoin(docs.agg(
                 F.count("*").cast("double").alias("n_docs")))
             .select("n_docs",
                     (F.col("_total") / F.col("n_docs")).alias("avgdl")))
    return stats.crossJoin(dfs)


def streaming_bm25_score(docs: DataFrame, model_df: DataFrame) -> DataFrame:
    """BM25 scoring over a document stream: stream-static broadcast of
    the fitted model, then an entirely row-local score — per-term tf
    from the token array, the same rational-core formula, and the same
    decimal-exact accumulation as the batch operator, so batch/stream
    parity is bit-for-bit (pinned in tests/test_corpus_stream.py).
    Emits every arriving doc; ``n_terms_hit = 0`` rows score NULL."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        BM25_B,
        BM25_K1,
        norm_tokens,
    )
    # Literal-folded constants, matching the batch Column arithmetic
    # ((1.0 - B) folds first there too, so rounding is identical).
    one_minus_b = repr(1.0 - BM25_B)
    parts = F.expr(f"""
        transform(terms, t -> named_struct(
            'tf', cast(size(filter(_toks, x -> x = t.tok)) as bigint),
            'df', t.df))
    """)
    # part(tf=0) = 0 exactly, so summing over all terms equals the
    # batch sum over matching postings; hits counts tf>0 only.
    score_sum = F.expr(f"""
        cast(aggregate(_tfs, cast(0 as decimal(38,6)), (acc, p) ->
            acc + cast(
                (((n_docs - p.df) + 0.5) / (p.df + 0.5))
                * ((p.tf * {repr(BM25_K1 + 1.0)})
                   / (p.tf + {repr(BM25_K1)} * ({one_minus_b}
                      + ({repr(BM25_B)} * size(_toks)) / avgdl)))
                as decimal(38,6))) as double)
    """)
    hits = F.expr("size(filter(_tfs, p -> p.tf > 0))").cast("long")
    return (docs
            .withColumn("_toks", norm_tokens())
            .crossJoin(F.broadcast(model_df))
            .withColumn("_tfs", parts)
            .withColumn("n_terms_hit", hits)
            .withColumn("_sum", score_sum)
            # replicate the batch davg-then-multiply exactly:
            # score = (decimal_sum -> double / hits) * hits
            .withColumn(
                "score",
                F.when(F.col("n_terms_hit") > 0,
                       F.col("_sum") / F.col("n_terms_hit")
                       * F.col("n_terms_hit")))
            .select("doc_id", "n_terms_hit", "score"))


def streaming_text_normalize(docs: DataFrame) -> DataFrame:
    """Text canonicalization over a document stream — the batch
    operator (``operators/normalize.py::normalize_text``) is a pure
    row-local projection, so it composes unchanged (stateless) and
    parity is bit-for-bit by construction."""
    from cga_logs_to_kinesis_spark.operators.normalize import (
        normalize_text,
    )
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"))


def streaming_homoglyph_scrub(docs: DataFrame) -> DataFrame:
    """Confusable-homoglyph repair over a document stream — the APPLY
    half of the script-mixing gate running continuously next to
    ``script_mixing_sink``'s report half.  The batch operator
    (``operators/ingest_audit.py::confusable_scrub_columns``) is a
    row-local 1:1 translate + count, so it composes unchanged
    (stateless) and parity is bit-for-bit by construction."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        confusable_scrub_columns,
    )
    n_conf, scrubbed = confusable_scrub_columns(F.col("text"))
    return docs.select(
        "doc_id",
        n_conf.alias("n_confusables"),
        scrubbed.alias("scrubbed_text"))


def streaming_markup_scrub(docs: DataFrame) -> DataFrame:
    """HTML-to-text over a document stream — the ingest-time position
    this scrub actually occupies in a crawl pipeline (extract BEFORE
    any dedup/quality state is built, so every downstream store sees
    clean text).  The batch operator
    (``operators/ingest_audit.py::markup_scrub_columns``) is a
    row-local regexp + literal replace chain, so it composes unchanged
    (stateless) and parity is bit-for-bit by construction."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        markup_scrub_columns,
    )
    n_tags, n_entities, clean = markup_scrub_columns(F.col("text"))
    return docs.select(
        "doc_id",
        n_tags.alias("n_tags"),
        n_entities.alias("n_entities"),
        clean.alias("clean_text"),
        F.try_divide(
            (F.length("text") - F.length(clean)).cast("double"),
            F.length("text").cast("double")).alias("markup_ratio"))


def streaming_blocklist(docs: DataFrame) -> DataFrame:
    """C4-style blocklist gate over a document stream — the ingest
    position a badwords list actually occupies in a crawl pipeline
    (drop BEFORE anything hits the corpus stores), next to
    ``streaming_quality_classifier`` / ``streaming_markup_scrub``.
    Stateless: the batch matcher's shared front
    (``operators/llm_pipeline.py::blocklist_hit_grams_col`` over
    ``norm_tokens``) probes each row's token positions row-locally
    against the term set (first-token prefilter, then exact-string
    gram confirm — the SAME column expression the batch gate sizes
    and explodes, so parity is row-for-row by construction, pinned in
    tests/test_corpus_stream.py).  Emits every arriving document with
    its occurrence count; the gate keeps ``n_hits == 0``."""
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        blocklist_hit_grams_col,
    )
    n_hits = F.size(blocklist_hit_grams_col())
    return (docs
            .withColumn("toks", norm_tokens())
            .select("doc_id", "source", "lang", "n_chars",
                    n_hits.cast("long").alias("n_hits"))
            .withColumn("kept", F.col("n_hits") == 0))


def streaming_line_dedup_intra(docs: DataFrame) -> DataFrame:
    """Within-document repeated-line removal over a document stream —
    stateless, because the computation needs only the document's own
    lines: the higher-order-function form
    (``operators/line_dedup.py::intra_dedup_columns``) probes each
    line against its in-array prefix, zero shuffle, so it composes
    over a pure stream.  An independent ALGORITHM from the batch
    query's groupBy+join — the parity test is a cross-check of both."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        intra_dedup_columns,
    )
    n_lines, n_dropped, scrubbed = intra_dedup_columns(F.col("text"))
    return docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        n_dropped.alias("n_dropped"),
        scrubbed.alias("scrubbed_text"))


def streaming_weighted_sample(docs: DataFrame) -> DataFrame:
    """Quality-weighted sampling over a document stream — the keep
    decision is a salted-md5 draw (row-local, no RNG state), so the
    same document keeps or drops identically in batch and streaming
    runs, across retries, and on any cluster layout."""
    from cga_logs_to_kinesis_spark.operators.normalize import (
        weighted_sample_columns,
    )
    c = weighted_sample_columns()
    return docs.select(
        "doc_id", "source",
        c["weight"].alias("weight"),
        c["kept"].alias("kept"))


def streaming_chunk_overlap(docs: DataFrame) -> DataFrame:
    """RAG sliding-window chunking over a document stream — the batch
    core (``operators/llm_pipeline.py::chunk_windows``) is pure
    projections plus a bounded explode, so it composes unchanged
    (stateless, no watermark) and parity is bit-for-bit by
    construction: a retrieval index can be built incrementally as
    documents arrive."""
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        chunk_windows,
    )
    return chunk_windows(docs)


def stream_embeddings(spark: SparkSession, src_dir: str) -> DataFrame:
    """File stream over an embeddings-shaped parquet directory."""
    return spark.readStream.schema(
        "vec_id long, embedding array<float>, label int").parquet(src_dir)


def ann_index_sink(index_dir: str, vector_dir: str, out_dir: str,
                   fail_after_all_writes_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``ann_incremental``: each arriving vector
    batch is bucketed ONCE, its top neighbors scored against the
    PERSISTED LSH bucket index + vector store (never re-bucketing the
    corpus), then merged into both stores.  Same exactly-once
    discipline as the dedup sinks: all three writes are
    batch_id-keyed dynamic-overwrite partitions, store reads filter
    ``batch_id < current`` so a replay after the last write sees
    pre-batch state (and ``ann_incremental_from_index`` drops
    self-pairs as defense in depth).  Pinned by
    tests/test_corpus_stream.py::
    test_ann_index_crash_after_last_write_is_exactly_once.

    Store sizing: the bucket index is N_TABLES rows x ~12 B per
    vector; the vector store is the embedding column itself (needed
    for the exact-cosine scoring — a product quantization stage would
    shrink it, see embedding_quantize)."""
    from cga_logs_to_kinesis_spark.operators.similarity import (
        ann_incremental_from_index,
        lsh_table_buckets_vec,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("vec_id", "embedding").localCheckpoint()
        idx, vecs = _prior_state(
            batch_df.sparkSession, batch_id,
            (index_dir, "vec_id long, bucket int"),
            (vector_dir, "vec_id long, embedding array<float>"))
        report = ann_incremental_from_index(idx, vecs, batch) \
            .localCheckpoint()
        _write_batch(report, batch_id, out_dir)
        buckets = F.explode(lsh_table_buckets_vec("embedding"))
        _write_batch(batch.select("vec_id", buckets.alias("bucket")),
                     batch_id, index_dir)
        _write_batch(batch, batch_id, vector_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def stream_media(spark: SparkSession, src_dir: str) -> DataFrame:
    """File stream over a media-shaped parquet directory: opaque
    binary payloads keyed by doc_id (the multimodal column model)."""
    return spark.readStream.schema(
        "doc_id long, payload binary").parquet(src_dir)


def image_index_sink(index_dir: str, fps_dir: str, out_dir: str,
                     fail_after_all_writes_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``image_dedup_incremental``: each arriving
    media batch is decoded + dHashed ONCE (the expensive Python stage
    runs on exactly the new images), banded against the PERSISTED band
    index, Hamming-verified against the persisted fingerprint store,
    then merged into both stores — never re-hashing the corpus.  Same
    exactly-once discipline as the ann/setjoin sinks: all three writes
    are batch_id-keyed dynamic-overwrite partitions, store reads
    filter ``batch_id < current`` so a replay after the last write
    sees pre-batch state (and the operator's batch_doc != seen_doc
    guard is defense in depth).  Pinned by tests/test_corpus_stream.py
    ::test_image_index_sink_matches_batch_and_survives_replay.

    Store sizing: 4 band rows (~12 B) + one 4-long fps row per image
    — the stores hold fingerprints only, never pixels, so state is
    independent of image size."""
    from cga_logs_to_kinesis_spark.operators.multimodal import (
        image_band_entries,
        image_dhash,
        image_incremental_from_index,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fps = image_dhash(batch_df.select("doc_id", "payload")) \
            .localCheckpoint()
        idx, seen_fps = _prior_state(
            batch_df.sparkSession, batch_id,
            (index_dir, "doc_id long, band_id int, band_val long"),
            (fps_dir, "doc_id long, band0 long, band1 long, "
                      "band2 long, band3 long"))
        report = image_incremental_from_index(idx, seen_fps, fps) \
            .localCheckpoint()
        _write_batch(report, batch_id, out_dir)
        _write_batch(image_band_entries(fps), batch_id, index_dir)
        _write_batch(fps, batch_id, fps_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def seed_semdedup_centroids(emb: DataFrame, cents_dir: str) -> int:
    """Persist the fixed SemDeDup centroid artifact ONCE, before the
    assignment stream starts — the fit-once/apply-forever discipline
    of ``fit_bpe_store``, with a single parquet dir instead of a
    manifest-swapped pair (one artifact, so there is no torn-pair
    window to close).  Here the centroids are the registry's
    oracle-checkable convention (the first SEMDEDUP_K vectors by id,
    operators/similarity.py::semdedup_centroids); production seeds
    this directory from trained k-means output
    (operators/clustering.py:103) — the sink never cares which, it
    only requires that the artifact stays FIXED, because fixed
    centroids are what make per-vector assignment row-local and the
    appended partials valid forever.  Returns the centroid count."""
    from cga_logs_to_kinesis_spark.operators.similarity import (
        semdedup_centroids,
    )
    cents = semdedup_centroids(emb)
    cents.coalesce(1).write.mode("overwrite").parquet(cents_dir)
    return cents.count()


def semdedup_assign_sink(cents_dir: str, assign_dir: str,
                         vector_dir: str, out_dir: str,
                         fail_after_all_writes_for:
                         tuple[int, ...] = ()):
    """foreachBatch twin of ``semdedup_incremental``: each arriving
    vector batch is assigned ONCE under the persisted centroid
    artifact (``seed_semdedup_centroids`` — read fresh per batch, K
    rows, broadcast by the assigner), scored against ONLY same-cluster
    members of the PERSISTED assignment + vector stores (the SemDeDup
    blocking — never all-pairs, never re-assigning the corpus), then
    appended into both stores.  Assignment under fixed centroids is
    row-local — a vector's (cluster, ccos) never depends on any other
    vector — so the partials this sink appends stay correct as batches
    accumulate, with no refit and no corpus re-scan: the embedding-
    space member of the incremental-dedup family
    (``minhash_incremental_sink`` / ``setjoin_index_sink`` /
    ``ann_index_sink``).

    Exactly-once: all three writes are batch_id-keyed
    dynamic-overwrite partitions; store reads filter ``batch_id <
    current`` so a replay after the last write sees pre-batch state,
    and ``semdedup_incremental_from_assign``'s batch_vec != seen_vec
    guard is defense in depth.  Pinned by tests/test_corpus_stream.py
    ::test_semdedup_assign_sink_matches_batch_and_survives_replay.

    Store sizing: the assignment store is 3 scalars per vector (~20 B
    — negligible next to the vector store, which is the embedding
    column itself, needed for the exact-cosine pair scoring).
    Per-batch work is O(|batch| x K) assignment + O(|batch| x
    |store| / K) blocked pairs — linear in the store, pinned by
    tests/test_incremental_stress.py."""
    from cga_logs_to_kinesis_spark.operators.similarity import (
        semdedup_assign_with_cents,
        semdedup_incremental_from_assign,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # missing artifact fails loudly here (AnalysisException) —
        # assigning under ad-hoc centroids would poison every
        # partial already in the store
        cents = spark.read.parquet(cents_dir)
        batch = batch_df.select("vec_id", "embedding").localCheckpoint()
        batch_assign = semdedup_assign_with_cents(batch, cents) \
            .localCheckpoint()   # two consumers: pair scoring + store
        seen_assign, seen_vecs = _prior_state(
            spark, batch_id,
            (assign_dir, "vec_id long, cluster long, ccos double"),
            (vector_dir, "vec_id long, embedding array<float>"))
        report = semdedup_incremental_from_assign(
            seen_assign, seen_vecs, batch_assign, batch) \
            .localCheckpoint()
        _write_batch(report, batch_id, out_dir)
        _write_batch(batch_assign, batch_id, assign_dir)
        _write_batch(batch, batch_id, vector_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def compact_digest_store(spark: SparkSession, store_dir: str,
                         upto_batch_id: int,
                         files_per_partition: int = 1) -> int:
    """Fold the digest store's per-batch partitions at or below
    ``upto_batch_id`` into one distinct base partition (batch_id =
    -1), returning the number of batch partitions folded.

    After thousands of crawl drops the store is thousands of tiny
    batch_id directories — the small-files problem.  Compaction is
    SAFE here specifically because of the exact-dedup algebra:

    * ``-1 < current`` always, so the base partition passes every
      sink read's ``batch_id < current`` replay filter;
    * the consumer is a left-anti join on ``text_digest``, which is
      idempotent under duplicates — a crash BETWEEN the base write
      and the old-partition cleanup leaves digests present twice, and
      the anti-join result is unchanged (re-run compaction to finish
      the cleanup).

    The band-bucket/shingle stores of the minhash sink do NOT get this
    helper: their consumer counts rows per key (n_common_bands), so
    duplicate rows change results — compacting those safely needs a
    transactional table format (or a full-store rewrite into a fresh
    directory swapped in while the stream is stopped).
    """
    return _compact_distinct_store(spark, store_dir, upto_batch_id,
                                   ["text_digest"], files_per_partition)


def compact_profile_values(spark: SparkSession, values_dir: str,
                           upto_batch_id: int,
                           files_per_partition: int = 1) -> int:
    """Compact the table-profile DISTINCT-VALUES store (see
    :func:`table_profile_sink`) — same algebra as the digest store:
    the consumer is ``count_distinct`` per column, idempotent under
    duplicate rows, so a crash between the base write and the cleanup
    only leaves harmless duplicates.  The PARTIALS store does NOT get
    a compactor: its consumer SUMS null counts, which double-counts
    under duplicates — the same reason the minhash band stores stay
    uncompacted (needs a transactional swap); its per-batch partitions
    are 1 row per profiled column, so the pressure is bounded anyway.
    Run with the stream stopped."""
    return _compact_distinct_store(spark, values_dir, upto_batch_id,
                                   ["col_name", "val"],
                                   files_per_partition)


def _compact_distinct_store(spark: SparkSession, store_dir: str,
                            upto_batch_id: int, cols: list[str],
                            files_per_partition: int) -> int:
    """Fold per-batch partitions of a DISTINCT-consumed store into the
    batch_id=-1 base — shared by the digest and profile-values
    compactors (both consumers are idempotent under duplicate rows,
    the property that makes the crash window harmless)."""
    df = spark.read.parquet(store_dir)
    old = df.filter((F.col("batch_id") >= 0)
                    & (F.col("batch_id") <= upto_batch_id))
    base = df.filter(F.col("batch_id") == -1).select(*cols)
    n_folded = old.select("batch_id").distinct().count()
    if n_folded == 0:
        return 0
    # Materialize the merged set BEFORE the overwrite: the
    # batch_id=-1 base partition is both an input (``base``) and the
    # replaced output, and a lazy plan that scans the partition while
    # dynamic-overwrite replaces it can lose the base on object stores
    # (rename-less commit) or under a concurrently-reading sink.
    # localCheckpoint pins the union to executor storage so the write
    # job reads blocks, never the parquet being rewritten.  Compaction
    # still requires the stream to be STOPPED (see docstring) — the
    # checkpoint closes the self-read hazard, not concurrent appends.
    merged = (base.unionByName(old.select(*cols)).distinct()
              .coalesce(files_per_partition)
              .localCheckpoint())
    _write_batch(merged, -1, store_dir)
    # cleanup AFTER the base partition is durable; a crash here only
    # leaves harmless duplicates (see docstring)
    _drop_batches(store_dir, [b for b in _batch_ids(store_dir)
                              if 0 <= b <= upto_batch_id])
    return n_folded


def stream_documents_jsonl_audit(spark: SparkSession, path: str,
                                 max_files_per_trigger: int | None = None,
                                 ) -> DataFrame:
    """Streaming twin of ``operators/ingest_audit.py::
    load_documents_jsonl_audit``: a PERMISSIVE JSONL file stream with
    ``_corrupt_record`` surfaced and the ``shard=K/`` layout exposed as
    a partition column — the continuously-arriving form of a crawl
    drop directory.  Reader schema/options come from the SHARED
    ``audit_read_contract`` so batch and stream can't diverge."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        audit_read_contract,
    )

    schema, options = audit_read_contract()
    reader = spark.readStream.schema(schema).options(**options)
    if max_files_per_trigger is not None:
        # a SOURCE option (backpressure knob): bounds each micro-batch
        reader = reader.option("maxFilesPerTrigger",
                               max_files_per_trigger)
    return reader.json(path)


def ingest_audit_sink(store_dir: str,
                      fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``q_jsonl_ingest_report``: each arriving
    micro-batch folds to per-shard PARTIAL audit rows (the same
    ``shard_audit_aggs`` expressions as the batch report — parity by
    construction) appended to a ``batch_id``-keyed parquet store.

    Every aggregate is mergeable, so
    :func:`ingest_audit_report_from_store` re-folds the partials into
    the exact whole-corpus report no matter how files were split into
    micro-batches.  EXACTLY-ONCE: the single write is a batch_id
    dynamic-overwrite partition, so a replay (crash after the write,
    before the checkpoint commit — foreachBatch's at-least-once
    window) overwrites its own partition identically; the fold sums
    each batch_id partition once.  No cross-batch read exists here at
    all (unlike the dedup sinks), so no ``batch_id < current`` filter
    is needed.  Pinned by tests/test_corpus_stream.py::
    test_ingest_audit_crash_after_write_is_exactly_once.

    100 TB shape: the audit never joins and never holds state beyond
    one micro-batch — counts fold map-side, the store grows one tiny
    row-group per (batch, shard), and a hot producer is visible in the
    fold as soon as its batch lands."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        shard_audit_aggs,
    )

    return _partials_sink(
        store_dir,
        lambda b: (b.groupBy(F.col("shard").cast("bigint").alias("shard"))
                   .agg(*shard_audit_aggs())),
        fail_after_write_for)


def _ingest_audit_fold(g):
    """Counts/sums add, the doc-id extrema fold with MIN/MAX."""
    return g.agg(*_sums("n_lines", "n_corrupt", "n_valid", "n_null_text",
                        "n_missing_id", "n_chars_liars"),
                 F.min("min_doc_id").alias("min_doc_id"),
                 F.max("max_doc_id").alias("max_doc_id"),
                 *_sums("total_chars"))


_INGEST_AUDIT_MERGE = (["shard"], _ingest_audit_fold)


def ingest_audit_report_from_store(spark: SparkSession,
                                   store_dir: str) -> DataFrame:
    """Fold the per-batch partial audit rows into the whole-corpus
    per-shard report — bit-identical to ``q_jsonl_ingest_report`` over
    the same files (counts/sums add, min/max fold).  Goes through
    ``_read_store``: a never-created store is empty state."""
    s = _fold_store(spark, store_dir, *_INGEST_AUDIT_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "shard long, n_lines long, n_corrupt long, "
                "n_valid long, n_null_text long, n_missing_id long, "
                "n_chars_liars long, min_doc_id long, "
                "max_doc_id long, total_chars long")
    return s.orderBy("shard")


def components_incremental_sink(labels_dir: str,
                                fail_after_write_for:
                                tuple[int, ...] = ()):
    """foreachBatch twin of ``operators/dedup.py::connected_components``
    — near-dup clusters maintained INCREMENTALLY as edge batches arrive
    (each crawl drop's verified LSH pairs), completing the incremental
    quartet: exact dedup, near-dup, ANN, and now components.

    The persisted state is the LABEL STAR, not the edge history: a
    component labeled ``comp`` (its min doc id) is stored as one
    (doc, comp) row per member, and replaying those rows as doc—comp
    edges reconstructs exactly the same connectivity as every past
    edge would (labels are themselves node ids, so the star is a
    connectivity-preserving contraction).  Each batch therefore runs
    pointer-doubling over |batch edges| + |known nodes| star edges —
    state O(nodes) while edge history is unbounded, which is the
    difference between feasible and not at 100 TB (a year of crawl
    drops has orders of magnitude more pair observations than docs).

    EXACTLY-ONCE: the full post-batch label table lands under its
    ``batch_id`` partition (dynamic overwrite); reads take the newest
    partition strictly BELOW the current batch id, so a replayed batch
    (crash after the write, before the checkpoint commit) recomputes
    from pre-batch state and overwrites identically.  The store keeps
    one label-table version per batch — each version is a complete
    state, so production compacts by dropping all but the two newest
    (:func:`compact_label_store`).  TWO, not one: the newest version
    may be an UNCOMMITTED write (crash after the label write, before
    the checkpoint commit), in which case the replayed batch's
    ``batch_id < current`` read needs the second-newest version to
    recompute from — compacting it away would send the replay down the
    first-batch path and permanently discard every learned cluster.
    Correctness never depends on versions older than that window.
    Pinned by tests/test_corpus_stream.py::
    test_components_incremental_* (batch parity + crash replay) and
    test_compact_label_store_survives_uncommitted_newest.
    """
    from cga_logs_to_kinesis_spark.operators.dedup import (
        connected_components,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        edges = batch_df.select("doc_a", "doc_b")
        # _read_store (inside _prior_version), NOT a bare try/except:
        # mistaking a transient read error for "first batch" here would
        # write a labels-only-from-this-batch table as the newest
        # version — authoritative forever, silently discarding every
        # cluster learned so far.
        prev = _prior_version(batch_df.sparkSession, labels_dir, batch_id)
        if prev is not None:
            edges = edges.unionByName(
                prev.select(F.col("comp").alias("doc_a"),
                            F.col("doc").alias("doc_b")))
        _write_batch(connected_components(edges), batch_id, labels_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def compact_label_store(labels_dir: str) -> int:
    """Drop every label-table version except the TWO newest (each
    version is a complete state — see
    :func:`components_incremental_sink`).  The second-newest survives
    because the newest may be an uncommitted write: a stream that
    crashed after the label write but before the checkpoint commit is
    "stopped", so the run-with-the-stream-stopped precondition does not
    rule the window out — on restart the replayed batch reads
    ``batch_id < current`` and must find its pre-batch state, not the
    first-batch path.  Run with the stream stopped.  Returns versions
    removed."""
    bids = sorted(_batch_ids(labels_dir))
    return _drop_batches(labels_dir, bids[:-2])


# ---------------------------------------------------------------------------
# Streaming table profile: the schema-level ingest gate run continuously
# ---------------------------------------------------------------------------

def stream_lineitem(spark: SparkSession, src_dir: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """File stream over a lineitem-shaped parquet drop directory —
    explicit schema (schema.LINEITEM), no inference scan."""
    from cga_logs_to_kinesis_spark.schema import LINEITEM
    reader = spark.readStream.schema(LINEITEM)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def table_profile_sink(partials_dir: str, values_dir: str,
                       fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``operators/ingest_audit.py::
    q_table_profile``: each arriving micro-batch writes (1) its
    per-column profile PARTIALS (the same ``profile_partials``
    expressions as the batch query — null counts add, min/max fold)
    and (2) its DISTINCT (col_name, value) pairs, both into
    ``batch_id``-keyed parquet stores.

    :func:`table_profile_report_from_store` then folds the partials
    and counts distinct values over the union of per-batch distinct
    sets — bit-identical to the batch profile over the same rows, no
    matter how files split into micro-batches, because both stores are
    mergeable: partial min/max/counts fold associatively, and
    set-union-then-distinct equals distinct-of-union.

    EXACTLY-ONCE: both writes are ``batch_id`` dynamic-overwrite
    partitions and neither reads across batches, so a foreachBatch
    replay (crash between the writes and the checkpoint commit)
    overwrites its own partitions identically — the ingest_audit_sink
    argument, pinned by tests/test_corpus_stream.py.

    100 TB shape: per batch the value store grows by the batch's
    distinct values only (bounded by column cardinality, not row
    count, for every gate-worthy column); swap the exact value store
    for a per-batch HLL sketch column when profiling genuinely
    unbounded key columns — the same exact-for-oracle /
    sketch-at-scale swap as the batch query documents."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        profile_partials,
        profile_value_pairs,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(profile_partials(batch_df), batch_id, partials_dir)
        _write_batch(profile_value_pairs(batch_df).distinct(), batch_id,
                     values_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def table_profile_report_from_store(spark: SparkSession,
                                    partials_dir: str,
                                    values_dir: str) -> DataFrame:
    """Fold the per-batch profile partials + distinct-value sets into
    the whole-corpus per-column profile — bit-identical to
    ``q_table_profile`` over the same rows."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        finish_profile,
    )
    partials = _read_store(spark, partials_dir)
    values = _read_store(spark, values_dir)
    if partials is None or values is None:
        return spark.createDataFrame(
            [], "col_name string, n_null long, n_distinct long, "
                "min_num double, max_num double, "
                "min_str string, max_str string")
    distincts = (values.groupBy("col_name")
                 .agg(F.count_distinct("val").alias("n_distinct")))
    return finish_profile(partials.drop("batch_id"), distincts)


# ---------------------------------------------------------------------------
# Streaming heavy hitters: Misra-Gries summaries folded across batches
# ---------------------------------------------------------------------------

def heavy_hitters_sink(store_dir: str,
                       fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``operators/sketches.py::q_heavy_hitters``
    — frequent-token tracking over an unbounded document stream with
    O(K) state per partition and NO cross-batch reads at all.

    Each arriving micro-batch is tokenized by the SHARED
    ``tokenize_docs`` front and summarized by the SAME per-partition
    Misra-Gries pass as the batch query (``_mg_partitions`` — parity
    by construction); the per-partition summaries (token,
    counter-lower-bound) plus the batch token count land under the
    batch's ``batch_id`` partition.  MG summaries are MERGEABLE:
    counter values sum, and the undercount slack budgets ADD to
    < N/(K+1) total — so :func:`heavy_hitters_from_store` folds the
    store into a guaranteed SUPERSET of the true heavy hitters with
    per-token count brackets, no matter how documents split into
    batches.  Unlike the batch query there is no exact-verify pass
    (that would re-read unbounded history); the fold reports
    [cnt_lower, cnt_upper] brackets instead, and the bracket width is
    the documented price of streaming.

    EXACTLY-ONCE: the single write per batch is a batch_id
    dynamic-overwrite partition; a replayed batch re-tokenizes the
    same files into the same partitions and overwrites identically
    (the ``ingest_audit_sink`` discipline — no ``batch_id < current``
    read needed because no batch reads the store).  The store gains
    one partition set per batch; :func:`compact_heavy_hitters_store`
    folds history into a single base partition whenever the
    small-files pressure warrants, without changing any fold result.
    Pinned by tests/test_sketches.py::test_heavy_hitters_sink_*."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        MG_SUMMARY_SCHEMA,
        _mg_partitions,
        tokenize_docs,
    )

    return _partials_sink(
        store_dir,
        lambda b: tokenize_docs(b).mapInPandas(_mg_partitions,
                                               MG_SUMMARY_SCHEMA),
        fail_after_write_for)


# Token rows carry part_tokens = 0 and each summary's one NULL-token
# row carries cnt = 0 (operators/sketches.py::_mg_partitions), so
# summing both columns per token merges counters and token totals at
# once.
_MG_MERGE = (["token"], _sum_fold("cnt", "part_tokens"))


def compact_heavy_hitters_store(spark: SparkSession, store_dir: str,
                                upto_batch_id: int,
                                files_per_partition: int = 1) -> int:
    """Fold the MG summary store's batch partitions at or below
    ``upto_batch_id`` (plus any existing base) into ONE merged base
    partition, returning the number of batch partitions folded.

    MG summaries are mergeable by construction — counters SUM per
    token and the per-slice slack budgets ADD — and the fold in
    :func:`heavy_hitters_from_store` computes its bracket from the
    TOTAL token count and the summed counters only, so folding
    partitions ahead of time changes NOTHING: fold-after-compaction
    equals fold-before, brackets identical (pinned by
    tests/test_sketches.py::test_compact_heavy_hitters_store_*).
    Without this, the store grows one partition set per micro-batch
    forever (the small-files problem; the summaries themselves are
    tiny).

    The merged base lands at ``batch_id = -(max_folded + 2)`` where
    ``max_folded`` is the HIGHEST batch id actually folded — the
    watermark is clamped to what exists, so an ``upto_batch_id``
    ahead of the stream (batches 0-2 on disk, upto=10) cannot write
    a watermark that would silently exclude batches 3..10 forever
    when they later arrive.  See :func:`_effective_mg_summaries` for
    why the watermark lives in the partition id.  Run with the
    stream stopped; a crash between the base write and the cleanup
    leaves ignored stale directories, and a RE-RUN (even one that
    finds nothing new to fold) finishes the cleanup."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_MG_MERGE, files_per_partition)


def heavy_hitters_from_store(spark: SparkSession,
                             store_dir: str) -> DataFrame:
    """Fold the persisted MG summaries into the heavy-hitter CANDIDATE
    report: every token whose count COULD exceed the N/(K+1)
    threshold, with its [cnt_lower, cnt_upper] bracket.

    Guarantees (tests pin both): the token set is a superset of the
    exact batch heavy hitters over the same corpus, and each true
    heavy hitter's exact count lies inside its bracket — because each
    summary undercounts its own slice by < n_slice/(K+1) and slices
    partition the corpus, so the folded undercount is < N/(K+1)
    total.  ``slack`` uses the integer ceiling so the bracket is
    safe under integer division on any engine."""
    from cga_logs_to_kinesis_spark.operators.sketches import MG_COUNTERS

    s = _fold_store(spark, store_dir, *_MG_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "token string, cnt_lower long, cnt_upper long")
    total = (s.agg(F.sum("part_tokens")).first()[0]) or 0
    slack = total // (MG_COUNTERS + 1) + 1
    folded = (s.filter(F.col("token").isNotNull())
              .select("token", F.col("cnt").alias("cnt_lower")))
    return (folded
            .withColumn("cnt_upper",
                        F.col("cnt_lower") + F.lit(int(slack)))
            .filter(F.col("cnt_upper") * (MG_COUNTERS + 1)
                    > F.lit(int(total)))
            .orderBy(F.col("cnt_lower").desc(), "token"))


# ---------------------------------------------------------------------------
# Streaming Bloom blocklist: contamination fingerprints as a stream
# ---------------------------------------------------------------------------

def bloom_positions_sink(store_dir: str,
                         fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of the blocklist half of
    ``operators/sketches.py::q_bloom_decontaminate``: benchmark /
    contamination documents ARRIVE as a stream (eval sets get
    published continuously), and each batch's fingerprint bit
    positions land as DISTINCT rows under the batch's ``batch_id``
    partition.  Positions use the SAME ``_positions_expr`` fragment
    as the batch build and the DuckDB oracle, so the folded bitmap is
    bit-identical to a batch build over the union of all arrivals
    (tests/test_corpus_stream.py::test_bloom_sink_*).

    The store is DISTINCT-consumed — the bitmap is the union of
    positions and OR is idempotent — so it shares the digest-store
    algebra exactly: replays overwrite their own partition, duplicate
    rows can never change the bitmap, and
    :func:`compact_bloom_store` is the shared base-fold compactor.
    Boundedness is structural: <= BLOOM_BITS distinct rows per batch
    partition and <= BLOOM_BITS rows total after compaction, however
    large the blocklist grows."""
    from cga_logs_to_kinesis_spark.operators.sketches import (
        _fp_col,
        _positions_expr,
    )

    return _partials_sink(
        store_dir,
        lambda b: (b.select(_fp_col().alias("fp"))
                   .filter(F.col("fp").isNotNull())
                   .select(F.explode(F.expr(_positions_expr("fp")))
                           .alias("pos"))
                   .distinct()),
        fail_after_write_for)


def compact_bloom_store(spark: SparkSession, store_dir: str,
                        upto_batch_id: int,
                        files_per_partition: int = 1) -> int:
    """Fold the position store's batch partitions into the
    ``batch_id=-1`` base — the shared distinct-store compactor; the
    crash window between base write and cleanup leaves only harmless
    duplicate positions (OR is idempotent)."""
    return _compact_distinct_store(spark, store_dir, upto_batch_id,
                                   ["pos"], files_per_partition)


def bloom_bitmap_from_store(spark: SparkSession, store_dir: str,
                            bits: int):
    """The folded bitmap: union of every stored position.  The
    distinct-position set is bounded by ``bits`` regardless of how
    many blocklist batches arrived, so the collect is structurally
    bounded (same argument as the batch build's parity reference)."""
    import numpy as np

    bitmap = np.zeros(bits, dtype=bool)
    s = _read_store(spark, store_dir)
    if s is None:
        return bitmap
    pos_rows = s.select("pos").distinct().collect()
    if pos_rows:
        bitmap[[r.pos for r in pos_rows]] = True
    return bitmap


def bloom_decontaminate_from_store(spark: SparkSession, store_dir: str,
                                   docs: DataFrame) -> DataFrame:
    """Decontaminate a corpus against the STREAMED blocklist: the
    per-source keep/drop report using the store's folded bitmap and
    the shared :func:`~cga_logs_to_kinesis_spark.operators.sketches.
    bloom_probe` (membership = H bitmap probes per document — no
    join, no shuffle over the corpus, identical arithmetic to the
    batch query).  Unlike the batch report it cannot count
    n_blocklisted/n_false_pos — ground-truth membership belongs to
    the blocklist producer, not the probe side."""
    from cga_logs_to_kinesis_spark.operators.dedup import CHAR_HASH_P
    from cga_logs_to_kinesis_spark.operators.sketches import (
        BLOOM_BITS,
        _fp_col,
        bloom_probe,
    )

    bitmap = bloom_bitmap_from_store(spark, store_dir, BLOOM_BITS)
    in_bloom = bloom_probe(bitmap)
    flagged = (docs.select("source", _fp_col().alias("fp"))
               .select("source",
                       in_bloom(F.col("fp") % CHAR_HASH_P)
                       .alias("hit")))
    return (flagged.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("hit").cast("bigint")).alias("n_dropped"),
                 F.sum((~F.col("hit")).cast("bigint")).alias("n_kept"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Streaming event funnel: per-user stage state (10th store family)
# ---------------------------------------------------------------------------
# The streaming twin of operators/temporal.py::q_event_funnel.  A
# greedy per-user stage machine (advance when the next stage's event
# arrives) is NOT the batch semantics: batch anchors are MINIMA
# (t1 = min stage-1 time; t_i = min stage-i time in
# [t_{i-1}, t_{i-1}+GAP]), so a LATE-arriving earlier stage-1 event
# moves every window left and can disqualify a previously-qualifying
# stage-2 event — reached stage can go DOWN with more data.  Exactness
# under arbitrary micro-batch splits therefore needs, per user and
# stage, the CANDIDATE event times that could still anchor the chain:
#
#   - stage 1: just the min (anchors only ever decrease);
#   - stage i>=2: every distinct time u <= t_{i-1} + GAP.  Safe to
#     prune above that: anchors are non-increasing while defined and
#     never rebound above a prior defined value, so a pruned u can
#     never re-qualify.  While t_{i-1} is undefined the stage keeps
#     all candidates (any future anchor might admit them).
#
# State is O(distinct candidate times within the reachable gap
# windows) per user — the funnel feed is pruned to the funnel's
# event types before any shuffle, and the gap bound caps each
# reached stage's list by the user's event rate x GAP, the same
# watermark-shaped envelope as any event-time stream state.  Merge is
# a SET UNION + anchor recompute — idempotent, which is what makes
# crash replay trivially exactly-once on top of the established
# batch_id-versioned store discipline (each version a complete
# state, reads strictly below the current batch id, keep-two
# compaction — see components_incremental_sink).

FUNNEL_STATE_SCHEMA = ("user_id long, stage int, times array<long>, "
                       "reached int")


def _funnel_fold_user(pdf):
    """Fold one user's state rows + batch partials: set-union the
    per-stage candidate times, replay the batch anchor chain
    (min / min-qualifying-in-window), prune, and emit the new state
    rows carrying the reached stage."""
    import pandas as pd

    from cga_logs_to_kinesis_spark.operators.temporal import (
        FUNNEL_GAP_US,
        FUNNEL_STAGES,
    )

    uid_raw = pdf["user_id"].iloc[0]
    uid = None if pd.isna(uid_raw) else int(uid_raw)
    by_stage: dict[int, set[int]] = {}
    for stage, times in zip(pdf["stage"], pdf["times"]):
        by_stage.setdefault(int(stage), set()).update(
            int(u) for u in times)
    out = {"user_id": [], "stage": [], "times": [], "reached": []}
    if uid is None:
        # Batch parity: the NULL-user group survives the stage-1
        # groupBy (counted once at stage 1) but can never pass an
        # inner join on user_id, so stages >= 2 are unreachable and
        # their candidates are dead state.
        if 1 in by_stage:
            out["user_id"].append(None)
            out["stage"].append(1)
            out["times"].append(sorted(by_stage[1])[:1])
            out["reached"].append(1)
        return pd.DataFrame(out)
    pruned: dict[int, list[int]] = {}
    t_prev = None
    reached = 0
    chain_alive = True
    for i in range(1, len(FUNNEL_STAGES) + 1):
        cand = sorted(by_stage.get(i, ()))
        if i == 1:
            t = cand[0] if cand else None
            pruned[i] = cand[:1]
        else:
            if t_prev is not None:
                cand = [u for u in cand if u <= t_prev + FUNNEL_GAP_US]
            pruned[i] = cand
            t = None
            if t_prev is not None:
                q = [u for u in cand if u >= t_prev]
                if q:
                    t = q[0]
        if chain_alive and t is not None:
            reached = i
        else:
            chain_alive = False
        t_prev = t
    # Batch parity on NULL timestamps: a user whose stage-1 events all
    # have NULL us still gets a (t=NULL) row from the batch groupBy —
    # counted at stage 1, unable to anchor stage 2.  The sink's
    # collect_set drops NULLs, so stage-1 PRESENCE (an empty times
    # row) must itself carry the stage-1 membership.
    if 1 in by_stage and reached == 0:
        reached = 1
    for i, times in pruned.items():
        if times or (i == 1 and 1 in by_stage):
            out["user_id"].append(uid)
            out["stage"].append(i)
            out["times"].append(times)
            out["reached"].append(reached)
    return pd.DataFrame(out)


def funnel_state_sink(store_dir: str,
                      fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over the projected funnel feed
    (``funnel_feed`` columns: user_id, event_type, us): maintain the
    per-user candidate/anchor state and persist each post-batch state
    as a complete ``batch_id``-keyed version (the label-store
    discipline; replay reads strictly below the current id, so a
    crash after the write and before the checkpoint commit replays
    to an identical version — set-union state is idempotent)."""
    from cga_logs_to_kinesis_spark.operators.temporal import (
        FUNNEL_STAGES,
    )

    stage_idx = F.lit(None).cast("int")
    for i, s in enumerate(reversed(FUNNEL_STAGES),
                          start=0):
        stage_idx = F.when(
            F.col("event_type") == s,
            F.lit(len(FUNNEL_STAGES) - i)).otherwise(stage_idx)

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # NULL us rows are kept: collect_set drops the NULLs but the
        # (user, stage) group row survives, carrying the stage-1
        # membership the batch groupBy would count (see fold).
        merged = (batch_df
                  .filter(F.col("event_type").isin(*FUNNEL_STAGES))
                  .select("user_id", stage_idx.alias("stage"), "us")
                  .groupBy("user_id", "stage")
                  .agg(F.collect_set("us").alias("times"))
                  .withColumn("reached", F.lit(0)))
        prev = _prior_version(batch_df.sparkSession, store_dir, batch_id)
        if prev is not None:
            prev = prev.select("user_id", "stage", "times", "reached")
            merged = merged.select(prev.columns).unionByName(prev)
        state = (merged.groupBy("user_id")
                 .applyInPandas(_funnel_fold_user, FUNNEL_STATE_SCHEMA))
        _write_batch(state, batch_id, store_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def compact_funnel_state_store(store_dir: str) -> int:
    """Keep-two compaction — identical discipline and crash argument
    to :func:`compact_label_store` (each version is a complete
    state; the newest may be an uncommitted write)."""
    return compact_label_store(store_dir)


def event_funnel_from_store(spark: SparkSession,
                            store_dir: str) -> DataFrame:
    """Fold the persisted per-user funnel state into the SAME report
    as the batch ``event_funnel`` query: one row per stage with the
    count of users whose anchor chain reaches it."""
    from cga_logs_to_kinesis_spark.operators.temporal import (
        FUNNEL_STAGES,
    )

    empty = spark.createDataFrame(
        [(i, s, 0) for i, s in enumerate(FUNNEL_STAGES, start=1)],
        "stage_idx int, stage string, n_users long")
    s = _read_store(spark, store_dir)
    if s is None:
        return empty
    latest = s.agg(F.max("batch_id")).first()[0]
    users = (s.filter(F.col("batch_id") == latest)
             .select("user_id", "reached").distinct()
             .localCheckpoint())        # one read feeds k counts
    frames = []
    for i, stage in enumerate(FUNNEL_STAGES, start=1):
        frames.append(
            users.filter(F.col("reached") >= i)
            .agg(F.count("*").alias("n_users"))
            .select(F.lit(i).cast("int").alias("stage_idx"),
                    F.lit(stage).alias("stage"), "n_users"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("stage_idx")


# ---------------------------------------------------------------------------
# IVF serving twin: the persisted inverted-file + SQ8 index
# ---------------------------------------------------------------------------
# cosine_topk_ivf_sq builds its index inline per run; a serving story
# needs the index PERSISTED so arriving queries pay only the probe.
# Three batch_id-keyed stores, the ann_index_sink discipline: the
# centroid ASSIGNMENTS (the inverted file: vec -> cluster), the SQ8
# CODES (tinyint codes + scale, 4x smaller than float32 — what the
# coarse pass streams), and the exact VECTORS (what the final re-rank
# touches, shortlist-sized reads only).  Centroids are a fixed model
# artifact supplied at sink construction (IVF centroids are trained
# offline; re-clustering is a rebuild, not a fold).
#
# Exactly-once is structural: the sink reads NOTHING — each batch's
# assignments/codes are a pure function of that batch + the fixed
# centroids, so a replayed batch overwrites its own partitions with
# identical bytes.  Per-batch work is O(|batch| x n_centroids),
# independent of index size (measured by
# tests/test_incremental_stress.py::test_ivf_sink_work_is_flat).
# Serving reads the whole store: an uncommitted crash-window
# partition is identical to what the replay will write, so readers
# are never wrong, merely early.

def ivf_index_sink(assign_dir: str, code_dir: str, vector_dir: str,
                   cents: DataFrame,
                   fail_after_all_writes_for: tuple[int, ...] = ()):
    """foreachBatch sink persisting the IVF+SQ8 index for
    :func:`cosine_topk_from_ivf_store`.  ``cents`` is the fixed
    centroid table (centroid_id, cent)."""
    from cga_logs_to_kinesis_spark.operators.similarity import (
        _nearest_clusters,
        sq8_encode,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("vec_id", "embedding").localCheckpoint()
        _write_batch(_nearest_clusters(batch, cents, "cand_id", 1),
                     batch_id, assign_dir)
        _write_batch(sq8_encode(batch, "cand_id"), batch_id, code_dir)
        _write_batch(batch, batch_id, vector_dir)
        crash(batch_id, fail_after_all_writes_for, "after last write")

    return process


def cosine_topk_from_ivf_store(spark: SparkSession, assign_dir: str,
                               code_dir: str, vector_dir: str,
                               queries: DataFrame,
                               cents: DataFrame) -> DataFrame:
    """Serve ANN queries against the PERSISTED IVF+SQ8 index — same
    probe/coarse/re-rank composition as the batch query, through the
    shared :func:`cosine_topk_from_ivf_index`, so served results are
    bit-identical to a batch run over the same vectors."""
    from cga_logs_to_kinesis_spark.operators.similarity import (
        cosine_topk_from_ivf_index,
    )

    assign = _read_store(spark, assign_dir)
    codes = _read_store(spark, code_dir)
    vecs = _read_store(spark, vector_dir)
    if assign is None or codes is None or vecs is None:
        return spark.createDataFrame(
            [], "query_id long, cand_id long, cosine double, rank int")
    return cosine_topk_from_ivf_index(
        assign=assign.select("cand_id", "cluster"),
        codes=codes.select("cand_id", "codes", "scale"),
        vecs=vecs.select(F.col("vec_id").alias("cand_id"),
                         F.col("embedding").alias("ce")),
        queries=queries, cents=cents)


# ---------------------------------------------------------------------------
# Streaming encoding-anomaly audit: per-batch mergeable partials
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::
# q_encoding_anomaly_report — same posture as ingest_audit_sink:
# every aggregate is a count or sum over row-local projections, so
# per-(batch, source) partials re-fold into the exact whole-corpus
# report no matter how the crawl split into micro-batches.  The sink
# reads nothing across batches; its single write is a batch_id
# dynamic-overwrite partition, so a foreachBatch replay overwrites
# itself identically (the exactly-once argument ingest_audit_sink
# documents).  At 100 TB this is the continuous form of the ingest
# encoding gate: one scan per batch, map-side folds, a producer that
# starts shipping mojibake is visible in the fold as soon as its
# batch lands.

def encoding_anomaly_sink(store_dir: str,
                          fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``q_encoding_anomaly_report`` — per-batch
    per-source partial anomaly counts appended batch_id-keyed."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        encoding_anomaly_aggs,
        encoding_per_doc,
    )

    return _partials_sink(
        store_dir,
        lambda b: (encoding_per_doc(b)
                   .groupBy("source").agg(*encoding_anomaly_aggs())),
        fail_after_write_for)


def _encoding_cols() -> list[str]:
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        ENC_PATTERNS,
    )

    return ["n_docs", "n_chars", *ENC_PATTERNS, "dirty_docs"]


def _encoding_fold(g):
    """Every encoding-audit column is a count or sum."""
    return g.agg(*_sums(*_encoding_cols()))


_ENCODING_MERGE = (["source"], _encoding_fold)


def encoding_anomaly_report_from_store(spark: SparkSession,
                                       store_dir: str) -> DataFrame:
    """Fold the per-batch partials into the whole-corpus per-source
    report — bit-identical to ``q_encoding_anomaly_report`` over the
    same documents (every column is a count or sum).  Goes through
    ``_read_store`` like every sibling reader: a never-created or
    zero-footer store is empty state, not a crash."""
    s = _fold_store(spark, store_dir, *_ENCODING_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "source string, " + ", ".join(f"{c} long"
                                              for c in _encoding_cols()))
    return s.orderBy("source")


def script_mixing_sink(store_dir: str,
                       fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch twin of ``q_script_mixing_report`` — the
    encoding_anomaly_sink posture verbatim: per-batch per-source
    partial script counts appended batch_id-keyed (every aggregate a
    count/sum over the shared ``script_counts_per_doc`` projection,
    so the fold is exact under any micro-batch split; the single
    dynamic-overwrite write makes replays structurally
    exactly-once)."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        script_counts_per_doc,
        script_mixing_aggs,
    )

    return _partials_sink(
        store_dir,
        lambda b: (script_counts_per_doc(b)
                   .groupBy("source").agg(*script_mixing_aggs())),
        fail_after_write_for)


def _script_mixing_cols() -> list[str]:
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        SCRIPT_CLASSES,
    )

    return ["n_docs", *SCRIPT_CLASSES, "multi_script_docs",
            "confusable_docs"]


def _script_mixing_fold(g):
    """Every script-mixing column is a count or sum."""
    return g.agg(*_sums(*_script_mixing_cols()))


_SCRIPT_MIXING_MERGE = (["source"], _script_mixing_fold)


def script_mixing_report_from_store(spark: SparkSession,
                                    store_dir: str) -> DataFrame:
    """Fold the per-batch partials into the whole-corpus per-source
    report — bit-identical to ``q_script_mixing_report`` (every
    column is a count or sum); never-created store reads as a typed
    empty frame."""
    s = _fold_store(spark, store_dir, *_SCRIPT_MIXING_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "source string, " + ", ".join(
                f"{c} long" for c in _script_mixing_cols()))
    return s.orderBy("source")


# ---------------------------------------------------------------------------
# Streaming skew monitor: exact key frequencies as a SUM-fold store
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py's skew loop
# (join_key_skew diagnoses -> salted_join_plan plans ->
# salted_join_hot mitigates).  A production pipeline's shuffle-key
# frequencies drift as crawls land; re-scanning 100 TB per planning
# decision is a non-starter, so the monitor folds each arriving
# micro-batch's (key_col, k) projection to exact per-batch count
# partials and the planner reads the SUM of the store — the same
# `salt_plan_from_frequencies` tail as the batch query, so the plans
# are bit-identical by construction.  Counts SUM, so the store uses
# the heavy-hitters discipline end to end: per-batch dynamic-
# overwrite partitions (replay overwrites itself — exactly-once
# structural), compaction with the watermark-in-partition-id base so
# a crash between base write and cleanup can never double-count
# (_effective_mg_summaries' argument, reused verbatim).

def skew_freq_sink(store_dir: str,
                   fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over pre-projected (key_col, k) key-value
    batches (operators/ingest_audit.py::skew_kv rows): per-batch
    exact frequency partials appended batch_id-keyed.  The sink reads
    nothing across batches; per-batch work is one partial-agg groupBy
    of the batch."""
    return _partials_sink(
        store_dir,
        lambda b: b.groupBy("key_col", "k").agg(F.count("*").alias("f")),
        fail_after_write_for)


_SKEW_MERGE = (["key_col", "k"], _sum_fold("f"))


def skew_frequencies_from_store(spark: SparkSession,
                                store_dir: str) -> DataFrame:
    """Fold the partials into the exact whole-corpus (key_col, k, f)
    frequency table — bit-identical to
    ``ingest_audit.skew_key_frequencies`` over the same rows under
    ANY micro-batch split (counts sum).  Reads through the
    watermark-aware live-row filter so a crashed compaction cannot
    double-count."""
    s = _fold_store(spark, store_dir, *_SKEW_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "key_col string, k string, f long")
    return s


def compact_skew_freq_store(spark: SparkSession, store_dir: str,
                            upto_batch_id: int,
                            files_per_partition: int = 1) -> int:
    """Fold frequency partials into the watermark base (counts SUM)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_SKEW_MERGE, files_per_partition)


def compact_encoding_store(spark: SparkSession, store_dir: str,
                           upto_batch_id: int,
                           files_per_partition: int = 1) -> int:
    """Fold encoding-audit partials (every column a count/sum) into
    the watermark base — without this the store grows one partition
    set per micro-batch forever."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_ENCODING_MERGE, files_per_partition)


def compact_script_mixing_store(spark: SparkSession, store_dir: str,
                                upto_batch_id: int,
                                files_per_partition: int = 1) -> int:
    """Fold script-mixing partials (counts/sums) into the base."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_SCRIPT_MIXING_MERGE,
                                    files_per_partition)


def compact_ingest_audit_store(spark: SparkSession, store_dir: str,
                               upto_batch_id: int,
                               files_per_partition: int = 1) -> int:
    """Fold JSONL-audit partials into the base: counts SUM, the
    doc-id extrema fold with MIN/MAX — the same merge the reader
    itself applies, so fold-after-compaction == fold-before."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_INGEST_AUDIT_MERGE,
                                    files_per_partition)


def salted_join_plan_from_store(spark: SparkSession,
                                store_dir: str) -> DataFrame:
    """The continuously-maintained mitigation plan: the batch
    planner's exact tail (`salt_plan_from_frequencies`) over the
    folded frequency store — bit-identical to ``salted_join_plan``
    over the same rows, available after every crawl drop without a
    corpus re-scan."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        salt_plan_from_frequencies,
    )

    freq = skew_frequencies_from_store(spark, store_dir)
    return salt_plan_from_frequencies(freq.localCheckpoint())


# ---------------------------------------------------------------------------
# Streaming corpus-drift monitor: per-decile mergeable partials
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::q_corpus_drift —
# the most streaming-native audit in the registry: a crawl monitor
# alarms per tranche, not per full rescan.  Deciles are keyed by
# FIXED doc_id ranges from a pinned max-doc-id snapshot (the novelty
# store's convention: bucket on a stable id domain, never arrival
# order, so any micro-batch split folds exactly).  Two stores:
#
# * sums: per-(batch, decile) count/sum partials — n_docs,
#   blank_docs, total_chars, plus the DECIMAL(38,6) char sum that
#   makes the folded avg_chars bit-identical to the batch query's
#   davg (decimal addition is exact and order-independent);
# * values: distinct (decile, col, val) rows for the two
#   countDistinct columns (source, lang) — countDistinct is not
#   sum-mergeable, so the spread folds from a distinct-consumed
#   store exactly like table_profile's values store.
#
# The sums store uses the heavy-hitters watermark-base discipline
# (_compact_mergeable_store); the values store the shared distinct
# compactor.  Per-batch work is one scan of the batch with map-side
# folds into at most 10 sum rows + the batch's distinct spread — at
# 100 TB the monitor's state is 10 rows per store generation plus
# |distinct (decile, source/lang)|, and a producer drifting (blank
# flood, char collapse, source churn) is visible as soon as its
# tranche lands, with no corpus re-scan.

def corpus_drift_sink(sum_dir: str, values_dir: str, max_doc_id: int,
                      fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch per-decile
    drift partials, decile divisor pinned to ``max_doc_id`` (the
    corpus-wide snapshot the batch query reads off `documents`).
    The sink reads nothing across batches; both writes are batch_id
    dynamic-overwrite partitions, so a replay overwrites itself
    identically (structurally exactly-once)."""
    from cga_logs_to_kinesis_spark.functions.exact import _DEC
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        drift_per_doc,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pd = drift_per_doc(batch_df, max_doc_id).localCheckpoint()
        _write_batch(
            pd.groupBy("decile")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("is_blank").alias("blank_docs"),
                 F.sum("chars").alias("total_chars"),
                 # cast the long DIRECTLY to decimal — the exact same
                 # conversion path as the batch query's davg (a double
                 # intermediate is exact only below 2^53, so sharing the
                 # cast chain, not just the target type, is what makes
                 # the folded avg bit-identical by construction)
                 F.sum(F.col("chars").cast(_DEC))
                 .cast(_DEC).alias("sum_chars_dec")),
            batch_id, sum_dir)
        vals = None
        for col in ("source", "lang"):
            part = (pd.select("decile", F.lit(col).alias("col"),
                              F.col(col).alias("val"))
                    .filter(F.col("val").isNotNull()).distinct())
            vals = part if vals is None else vals.unionByName(part)
        _write_batch(vals, batch_id, values_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def _drift_fold(g):
    """Counts and the exact decimal char sum both SUM; the cast pins
    the decimal type."""
    from cga_logs_to_kinesis_spark.functions.exact import _DEC

    return g.agg(*_sums("n_docs", "blank_docs", "total_chars"),
                 F.sum("sum_chars_dec").cast(_DEC).alias("sum_chars_dec"))


_DRIFT_MERGE = (["decile"], _drift_fold)


def corpus_drift_from_store(spark: SparkSession, sum_dir: str,
                            values_dir: str) -> DataFrame:
    """Fold both stores into the whole-corpus per-decile drift report
    — bit-identical to ``q_corpus_drift`` over the same documents
    when the sink's ``max_doc_id`` matches the batch query's snapshot
    (counts/sums re-fold; avg_chars folds through the exact decimal
    sum; the spreads count the distinct-consumed values store).
    Never-created stores read as a typed empty frame."""
    schema = ("decile int, n_docs long, blank_docs long, "
              "total_chars long, avg_chars double, n_sources long, "
              "n_langs long")
    sums = _fold_store(spark, sum_dir, *_DRIFT_MERGE)
    v = _read_store(spark, values_dir)
    if sums is None or v is None:
        return spark.createDataFrame([], schema)
    sums = sums.withColumn("avg_chars", F.col("sum_chars_dec")
                           .cast("double") / F.col("n_docs"))
    spread = (v.select("decile", "col", "val").distinct()
              .groupBy("decile")
              .agg(F.count(F.when(F.col("col") == "source", 1))
                   .alias("n_sources"),
                   F.count(F.when(F.col("col") == "lang", 1))
                   .alias("n_langs")))
    return (sums.join(spread, "decile", "left")
            .select("decile", "n_docs", "blank_docs", "total_chars",
                    "avg_chars",
                    F.coalesce("n_sources", F.lit(0))
                    .alias("n_sources"),
                    F.coalesce("n_langs", F.lit(0)).alias("n_langs"))
            .orderBy("decile"))


def compact_corpus_drift_sums(spark: SparkSession, store_dir: str,
                              upto_batch_id: int,
                              files_per_partition: int = 1) -> int:
    """Fold drift sum partials into the watermark base — counts and
    the exact decimal char sum both SUM, so the shared mergeable
    compactor applies with a type-pinning cast on the decimal."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_DRIFT_MERGE, files_per_partition)


def compact_corpus_drift_values(spark: SparkSession, values_dir: str,
                                upto_batch_id: int,
                                files_per_partition: int = 1) -> int:
    """The values store is DISTINCT-consumed — the shared distinct
    base compactor applies verbatim."""
    return _compact_distinct_store(spark, values_dir, upto_batch_id,
                                   ["decile", "col", "val"],
                                   files_per_partition)


# ---------------------------------------------------------------------------
# Streaming line-frequency store: boilerplate mining as a SUM fold
# ---------------------------------------------------------------------------
# The streaming twin of operators/line_dedup.py — the shape a crawl
# actually needs: boilerplate (nav bars, footers, cookie banners)
# accretes as new sites land, and re-scanning 100 TB per blocklist
# refresh is a non-starter.  Each arriving micro-batch folds to
# per-(fp, line) distinct-document counts; because a document arrives
# in exactly ONE batch (the document-stream contract every doc-keyed
# store here shares), per-batch distinct (fp, doc) counts SUM to the
# corpus-wide distinct-doc frequency.  The report and the scrub both
# read the folded store: the report is the batch query's exact tail,
# the scrub reuses operators/line_dedup.py::scrub_with_fps, so
# neither can drift from the batch semantics.  Counts SUM -> the
# watermark-base compactor discipline applies.

def line_df_sink(store_dir: str,
                 fail_after_write_for: tuple[int, ...] = (),
                 seen_dir: str | None = None):
    """foreachBatch sink over document batches: per-batch
    (fp, line, n_docs) partials appended batch_id-keyed.  The sink
    reads nothing across batches; per-batch work is the row-local
    line explode plus two partial-agg groupBys of the batch.

    The SUM-fold is exact only under the each-doc-arrives-in-exactly-
    one-batch contract every doc-keyed store here shares; a re-crawled
    document arriving in a SECOND batch would double-count its lines
    and can push a sub-threshold line over BOILER_DF — and the
    consumer that then corrupts data is ``line_scrub_from_store``,
    which would drop legitimate content (r14 advice).  Pass
    ``seen_dir`` to ENFORCE the contract instead of assuming it: a
    tiny batch_id-keyed doc_id store, anti-joined (pre-batch state
    only, ``batch_id < current`` — the ``incremental_dedup_sink``
    replay discipline) so a re-arriving doc_id contributes nothing.
    The guard state is 8 B/doc; the anti-join ships doc_ids only."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        LINE_MIN_CHARS,
        line_flat,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df
        if seen_dir is not None:
            seen, = _prior_state(batch_df.sparkSession, batch_id,
                                 (seen_dir, "doc_id long"))
            # fresh docs feed the fold AND the seen-store write
            docs = docs.join(seen, "doc_id", "left_anti").localCheckpoint()
        _write_batch(line_flat(docs)
                     .filter(F.length("line") >= LINE_MIN_CHARS)
                     .select("fp", "line", "doc_id").distinct()
                     .groupBy("fp", "line")
                     .agg(F.count("*").alias("n_docs")),
                     batch_id, store_dir)
        if seen_dir is not None:
            _write_batch(docs.select("doc_id"), batch_id, seen_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


# line is functionally dependent on fp, so it rides the group key
_LINE_DF_MERGE = (["fp", "line"], _sum_fold("n_docs"))


def boilerplate_report_from_store(spark: SparkSession,
                                  store_dir: str) -> DataFrame:
    """Fold the store into the batch ``boilerplate_lines`` report —
    bit-identical over the same documents (each doc arrives once, so
    the per-batch distinct-doc counts SUM exactly)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
    )

    folded = _fold_store(spark, store_dir, *_LINE_DF_MERGE)
    if folded is None:
        return spark.createDataFrame([], "line string, n_docs long")
    return (folded.filter(F.col("n_docs") >= BOILER_DF)
            .select("line", "n_docs")
            .orderBy(F.desc("n_docs"), "line")
            .limit(20))


def line_scrub_from_store(spark: SparkSession, docs: DataFrame,
                          store_dir: str) -> DataFrame:
    """Scrub ``docs`` (doc_id, text, ...) against the continuously-
    maintained line-frequency store — the batch scrub's exact tail
    (``scrub_with_fps``) fed by the folded drop list instead of a
    fresh corpus scan.  ``orig_text`` is the incoming text, so
    ``restored`` here means "nothing was dropped".  ``docs`` is
    evaluated twice (the line explode and the final per-doc join —
    the scrub_with_fps contract); pass a localCheckpoint'ed frame if
    it is an expensive computed subtree (plain scans just re-read).

    Correctness rests on the store's each-doc-in-one-batch contract:
    if a re-crawled document fed ``line_df_sink`` twice, its lines
    double-count and a sub-threshold line can cross BOILER_DF — and
    THIS function is where that corruption lands (legitimate content
    silently dropped).  Feed the sink with ``seen_dir`` set to make
    the contract enforced rather than assumed."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
        scrub_with_fps,
    )

    folded = _fold_store(spark, store_dir, *_LINE_DF_MERGE)
    base = docs.select("doc_id", F.col("text").alias("orig_text"),
                       "text")
    if folded is None:
        fps = spark.createDataFrame([], "fp string")
    else:
        fps = (folded.filter(F.col("n_docs") >= BOILER_DF)
               .select("fp"))
    return scrub_with_fps(base, fps)


def line_pipeline_from_store(spark: SparkSession, docs: DataFrame,
                             store_dir: str) -> DataFrame:
    """The full line-hygiene pipeline (``line_dedup_pipeline``
    semantics) over the continuously-maintained line-frequency store:
    intra-doc repeated-line removal ROW-LOCALLY (the streaming form —
    zero shuffle), then the corpus-level scrub against the folded
    drop list.  Matches the batch pipeline bit-for-bit over the same
    corpus PROVIDED the store was fed the same intra-scrubbed
    documents — the fit-after-intra order the batch query pins (fit
    the frequency model on post-intra lines, or a single spam page's
    thousandfold-repeated line votes itself over the threshold): feed
    ``line_df_sink`` with ``streaming_line_dedup_intra(...)`` output
    renamed back to (doc_id, text).  ``restored`` preserves the
    store-scrub convention: True iff the CORPUS pass dropped nothing
    beyond what intra already removed."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        intra_dedup_columns,
    )

    _n_lines, n_dropped, scrubbed = intra_dedup_columns(F.col("text"))
    intra = docs.select(
        "doc_id", n_dropped.alias("n_dropped_intra"),
        scrubbed.alias("text")).localCheckpoint()
    out = line_scrub_from_store(spark, intra, store_dir)
    return (out.join(intra.select("doc_id", "n_dropped_intra"),
                     "doc_id")
            .select("doc_id", "n_dropped_intra", "n_lines",
                    F.col("n_dropped").alias("n_dropped_boiler"),
                    "scrubbed_text", "restored"))


def compact_line_df_store(spark: SparkSession, store_dir: str,
                          upto_batch_id: int,
                          files_per_partition: int = 1) -> int:
    """Fold line-frequency partials into the watermark base (counts
    SUM; line is functionally dependent on fp, so it rides the group
    key)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_LINE_DF_MERGE, files_per_partition)


def line_source_sink(store_dir: str,
                     fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink for the ratio gate's second store: per-batch
    (source, fp) line counts — ALL lines, no length filter, because
    the ratio's denominator is a source's total line volume.  Counts
    SUM under any split (plain occurrence counts, not per-doc
    distincts, so no arrival assumption is even needed here)."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        line_flat,
    )

    return _partials_sink(
        store_dir,
        lambda b: (line_flat(b, "source").groupBy("source", "fp")
                   .agg(F.count("*").alias("n_lines"))),
        fail_after_write_for)


_LINE_SOURCE_MERGE = (["source", "fp"], _sum_fold("n_lines"))


def boilerplate_ratio_from_store(spark: SparkSession,
                                 source_store: str,
                                 df_store: str) -> DataFrame:
    """The continuously-maintained per-source boilerplate gate: fold
    the (source, fp) line counts, mark fps the folded line-frequency
    store puts at/over the threshold, and emit the batch query's
    exact per-source report (``boilerplate_ratio_by_source``) — the
    whole line-dedup family (report, apply, gate) now runs without a
    corpus re-scan."""
    from cga_logs_to_kinesis_spark.operators.line_dedup import (
        BOILER_DF,
    )

    schema = ("source string, n_lines long, n_boiler_lines long, "
              "boiler_ratio double")
    sf = _fold_store(spark, source_store, *_LINE_SOURCE_MERGE)
    folded = _fold_store(spark, df_store, *_LINE_DF_MERGE)
    if sf is None or folded is None:
        return spark.createDataFrame([], schema)
    boiler = (folded.filter(F.col("n_docs") >= BOILER_DF)
              .select("fp").withColumn("_b", F.lit(1)))
    marked = sf.join(boiler, "fp", "left")
    n_boiler = F.sum(F.when(F.col("_b") == 1, F.col("n_lines"))
                     .otherwise(F.lit(0)))
    return (marked.groupBy("source")
            .agg(F.sum("n_lines").alias("n_lines"),
                 n_boiler.alias("n_boiler_lines"),
                 F.try_divide(n_boiler.cast("double"),
                              F.sum("n_lines").cast("double"))
                 .alias("boiler_ratio"))
            .orderBy("source"))


def compact_line_source_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int,
                              files_per_partition: int = 1) -> int:
    """Fold (source, fp) line-count partials into the watermark base
    (counts SUM)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_LINE_SOURCE_MERGE,
                                    files_per_partition)


# ---------------------------------------------------------------------------
# Streaming token-count store: source divergence without a re-scan
# ---------------------------------------------------------------------------
# The streaming twin of operators/ingest_audit.py::q_source_divergence
# — the drift alarm a crawl needs continuously: per-source
# total-variation distance from the corpus token distribution,
# recomputable after every tranche.  ONE store of per-batch
# (source, tok) count partials carries everything: the per-source
# counts are its direct fold, the corpus counts are the same fold
# re-grouped by tok — plain occurrence counts SUM under any split
# with no arrival assumption at all.  The reader feeds both folds to
# the batch query's exact algebra tail (tv_from_token_counts), so the
# integer-exact TV is bit-identical by construction.  State is
# |distinct (source, token)| — vocabulary-sized, the same envelope as
# the prune/stop-token models; the watermark-base compactor applies.

def token_count_sink(store_dir: str,
                     fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch
    (source, tok, cnt) partials appended batch_id-keyed.  Per-batch
    work is the shared width-gated tokenize (source_tokens — the
    batch query's exact front) plus one partial-agg groupBy."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        source_tokens,
    )

    return _partials_sink(
        store_dir,
        lambda b: (source_tokens(b).groupBy("source", "tok")
                   .agg(F.count("*").alias("cnt"))),
        fail_after_write_for)


_TOKEN_COUNT_MERGE = (["source", "tok"], _sum_fold("cnt"))


def source_divergence_from_store(spark: SparkSession,
                                 store_dir: str) -> DataFrame:
    """Fold the token-count store into the batch query's exact
    per-source TV report (``tv_from_token_counts`` over the folded
    counts) — bit-identical over the same documents, with no corpus
    re-scan."""
    from cga_logs_to_kinesis_spark.operators.ingest_audit import (
        tv_from_token_counts,
    )

    s = _fold_store(spark, store_dir, *_TOKEN_COUNT_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "source string, n_tokens long, n_distinct_tokens "
                "long, tv_distance double")
    per_src = (s.withColumnRenamed("cnt", "cnt_s")
               .localCheckpoint())   # feeds corpus fold + TV join
    corpus = per_src.groupBy("tok").agg(
        F.sum("cnt_s").alias("cnt_all"))
    return tv_from_token_counts(corpus, per_src)


def compact_token_count_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int,
                              files_per_partition: int = 1) -> int:
    """Fold token-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_TOKEN_COUNT_MERGE,
                                    files_per_partition)


def mixture_from_store(spark: SparkSession,
                       store_dir: str) -> DataFrame:
    """Continuous temperature-mixture weights: fold the SAME
    token-count store that feeds ``source_divergence_from_store``
    down to per-source totals and apply the batch mixture algebra
    (``llm_pipeline.mixture_weight_columns`` — the decimal-sqrt
    order-free normalization), so the crawl's resampling rates
    (w ∝ tokens^0.5) are recomputable after every tranche with no
    corpus re-scan and no second store.

    Token definition is the store's (``source_tokens``: lowercased,
    empties dropped, NULL text/source filtered) — the registry's
    batch ``mixture_weights`` counts raw whitespace tokens instead;
    the parity target is the shared ALGEBRA over the same counts
    (bit-identical, pinned by
    tests/test_corpus_stream.py::test_mixture_from_store_matches_batch_algebra),
    not the tokenizer choice."""
    from cga_logs_to_kinesis_spark.operators.llm_pipeline import (
        mixture_weight_columns,
    )

    s = _fold_store(spark, store_dir, *_TOKEN_COUNT_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "source string, n_tokens long, weight double, "
                "expected_epochs double")
    per_src = s.groupBy("source").agg(F.sum("cnt").alias("n_tokens"))
    return mixture_weight_columns(per_src).orderBy("source")


# ---------------------------------------------------------------------------
# Streaming bigram-LM store: CCNet perplexity split on maintained counts
# ---------------------------------------------------------------------------
# The streaming twin of the LM behind ``bigram_surprisal`` /
# ``perplexity_split`` (operators/lm_quality.py).  The key factoring
# (lm_quality.surprisal_from_counts): the ENTIRE add-one bigram LM
# derives from one (prev, w) count table — context counts are its
# per-prev sums, the vocabulary is the distinct types over its keys —
# so one store of per-batch (prev, w, cnt) partials carries the whole
# model.  Plain occurrence counts SUM under any corpus split with no
# arrival assumption (the token-count store's algebra, one order up),
# so the watermark-base compactor applies unchanged.  State is
# |distinct bigrams| — bigram-vocabulary-sized (~1e10 at web scale:
# big but DataFrame-shaped, the same envelope the batch query's
# count table already occupies; never driver-sized).
#
# The reader scores a DOCS argument (the tranche to bucket) against
# the folded counts and applies the shared tertile tail — CCNet's
# head/middle/tail bucketing riding continuously-maintained counts,
# with no corpus re-scan to rebuild the LM.  Scoring the full
# ingested corpus reproduces the batch query bit-for-bit (pinned);
# scoring an unseen tranche uses add-one smoothing's unseen case
# (surprisal_from_counts' left joins) — the generalization a
# continuously-fitted LM exists for.

def bigram_count_sink(store_dir: str,
                      fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch
    (prev, w, cnt) bigram-count partials appended batch_id-keyed.
    Per-batch work is the batch query's exact bigram front
    (``doc_bigrams``, checkpoint-free — single consumer here) plus
    one partial-agg groupBy."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        doc_bigrams,
    )

    return _partials_sink(
        store_dir,
        lambda b: (doc_bigrams(b, checkpoint=False).groupBy("prev", "w")
                   .agg(F.count("*").alias("cnt"))),
        fail_after_write_for)


_BIGRAM_MERGE = (["prev", "w"], _sum_fold("cnt"))


def perplexity_split_from_store(spark: SparkSession, docs: DataFrame,
                                store_dir: str) -> DataFrame:
    """CCNet head/middle/tail split of ``docs`` under the LM folded
    from the bigram-count store: fold partials to the count table,
    push it through the batch query's exact algebra tail
    (``surprisal_from_counts`` + ``perplexity_buckets``) — bit-
    identical to ``perplexity_split`` when ``docs`` is the ingested
    corpus, and a smoothed generalization for unseen tranches."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        doc_bigrams,
        perplexity_buckets,
        surprisal_from_counts,
    )

    s = _fold_store(spark, store_dir, *_BIGRAM_MERGE)
    if s is None:
        return spark.createDataFrame(
            [], "doc_id long, lang string, surprisal_score double, "
                "bucket string, keep boolean")
    freq2 = s.withColumnRenamed("cnt", "c_bg")
    # checkpoint=False: freq2 comes from the store, so the bigram
    # frame has exactly one consumer here — no reuse to materialize
    # for (same single-consumer usage as bigram_count_sink).
    scored = (surprisal_from_counts(doc_bigrams(docs, checkpoint=False),
                                    freq2)
              .join(docs.select("doc_id", "lang"), "doc_id"))
    return perplexity_buckets(scored)


def compact_bigram_count_store(spark: SparkSession, store_dir: str,
                               upto_batch_id: int,
                               files_per_partition: int = 1) -> int:
    """Fold bigram-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_BIGRAM_MERGE, files_per_partition)


# ---------------------------------------------------------------------------
# Streaming class-count store: the trained probe rides the crawl
# ---------------------------------------------------------------------------
# The trained quality probe's sufficient statistics are ONE table of
# per-bucket class counts (lm_quality's difference-of-class-means
# factoring: totals are its sums, the smoothed weights and the
# integer-exact decision all derive from it) — and counts SUM under
# any corpus split, so per-batch (bucket, n_pos, n_neg) partials make
# the probe continuously TRAINED: every tranche that arrives updates
# the model, and the reader can score any docs frame against the
# model-so-far with no corpus re-scan.  State is B = QCLF_BUCKETS
# rows per batch — the hashing trick bounds the model, which is
# exactly why this classifier family scales to crawls (fastText's
# argument).  The watermark-base compactor applies unchanged.

def class_count_sink(store_dir: str,
                     fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch
    (bucket, n_pos, n_neg) class-count partials, batch_id-keyed.
    Per-batch work is the batch trainer's exact front
    (``_qclf_class_counts``) — one partial-agg groupBy to B rows."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        _qclf_class_counts,
    )

    return _partials_sink(store_dir, _qclf_class_counts,
                          fail_after_write_for)


_CLASS_COUNT_MERGE = (["bucket"], _sum_fold("n_pos", "n_neg"))


def classifier_eval_from_store(spark: SparkSession, docs: DataFrame,
                               store_dir: str) -> DataFrame:
    """Confusion matrix of ``docs`` under the probe trained from the
    class-count store: fold partials to the sufficient statistics,
    push them through the batch query's exact tail
    (``classifier_confusion``) — bit-identical to
    ``quality_classifier_eval`` when ``docs`` is the ingested corpus,
    and a smoothed generalization for tranches hitting unseen
    buckets."""
    from cga_logs_to_kinesis_spark.operators.lm_quality import (
        _qclf_doc_buckets,
        classifier_confusion,
    )

    counts = _fold_store(spark, store_dir, *_CLASS_COUNT_MERGE)
    if counts is None:
        return spark.createDataFrame(
            [], "is_target boolean, predicted boolean, n_docs long, "
                "example_doc_id long, avg_score double")
    return classifier_confusion(_qclf_doc_buckets(docs), counts)


def compact_class_count_store(spark: SparkSession, store_dir: str,
                              upto_batch_id: int,
                              files_per_partition: int = 1) -> int:
    """Fold class-count partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    *_CLASS_COUNT_MERGE,
                                    files_per_partition)


# ---------------------------------------------------------------------------
# Streaming BPE tokenizer store: fit the merges once, apply forever
# ---------------------------------------------------------------------------
# The r16 watch item: every token_ngram_decontaminate invocation
# refit the tokenizer — 10 driver-side aggregate-and-collect rounds,
# at ANY scale, because the loop's cost is iteration count, not data.
# The factoring that kills it is the same one the bigram-LM and
# class-count stores ride: the WHOLE tokenizer derives from the
# word-frequency table (operators/bpe.py::word_freqs — merge learning
# consumes only (w, freq); the fitted vocabulary is its keys
# tokenized), and plain word counts SUM under any corpus split.  So
# the store is two levels:
#
#   * per-batch (w, freq) partials, batch_id-keyed (this family's
#     sufficient statistics — the usual watermark-base summing store);
#   * a FITTED MODEL artifact (merge table + vocabulary), produced by
#     an explicit fit step that folds the partials and runs the merge
#     loop ONCE — a maintenance operation like compaction, not
#     per-batch work.
#
# Readers apply the persisted artifact with no fit loop and no corpus
# re-scan; words the fitted vocabulary never saw are tokenized by
# applying the stored merge table (a tokenizer maps ANY word — the
# new-word branch is distinct-new-words-sized, and empty when the
# scored tranche is the ingested corpus, which is the bit-for-bit
# parity case).  State: |vocabulary| rows per batch partial and for
# the vocab artifact, n_merges rows for the merge table.

def bpe_vocab_sink(freq_dir: str,
                   fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch (w, freq)
    word-frequency partials appended batch_id-keyed.  Per-batch work
    is the batch fit's exact front (``word_freqs``) — one partial-agg
    groupBy to the batch's distinct words."""
    from cga_logs_to_kinesis_spark.operators.bpe import word_freqs

    return _partials_sink(freq_dir, word_freqs, fail_after_write_for)


_BPE_FREQ_MERGE = (["w"], _sum_fold("freq"))


def _bpe_current_fit(model_dir: str) -> str | None:
    """Resolve the model's ``CURRENT`` manifest to its fit directory
    (``model_dir/fit_<n>``), or None if no fit has ever committed.
    The manifest is the atomicity point of :func:`fit_bpe_store`."""
    import os
    try:
        with open(os.path.join(model_dir, "CURRENT")) as f:
            fit = f.read().strip()
    except OSError:
        return None
    return os.path.join(model_dir, fit) if fit else None


def fit_bpe_store(spark: SparkSession, freq_dir: str, model_dir: str,
                  n_merges: int | None = None) -> int:
    """Fold the word-frequency partials and fit the tokenizer ONCE:
    writes the merge table and the fitted vocabulary (every folded
    word tokenized under the merges).  Returns the number of merges
    learned (0 if the frequency store has never been written — no
    model is laid down).  The 10-round driver loop runs HERE and
    nowhere else; every reader applies the persisted artifact.

    The model is a PAIR of artifacts, so publication is atomic: both
    parquet dirs land in a fresh ``model_dir/fit_<n>`` staging
    directory, then a ``CURRENT`` manifest naming it is swapped in
    with ``os.replace`` (POSIX-atomic) — a crash between the two
    parquet writes, or a reader racing a refit, can never observe
    new merges paired with a stale vocabulary.  A crash BEFORE the
    manifest swap leaves an orphan fit dir the next fit ignores (and
    the rerun's content is bit-identical anyway — the model derives
    deterministically from the folded store).  On an object store
    the manifest swap maps to the same conditional-PUT pointer
    commit Delta's ``_last_checkpoint`` uses."""
    import os

    from cga_logs_to_kinesis_spark.operators.bpe import (
        BPE_N_MERGES,
        apply_merges_to_words,
        learn_bpe_merges_from_freqs,
    )

    if n_merges is None:
        n_merges = BPE_N_MERGES
    wf = _fold_store(spark, freq_dir, *_BPE_FREQ_MERGE)
    if wf is None:
        return 0
    wf = wf.localCheckpoint()      # two consumers: loop + vocab keys
    merges_df = learn_bpe_merges_from_freqs(spark, wf, n_merges)
    # n_merges rows by construction — the bounded-collect class.
    merges = [(r.lhs, r.rhs)
              for r in merges_df.orderBy("step").collect()]
    os.makedirs(model_dir, exist_ok=True)
    n_fit = 1 + max(
        (int(d.split("_", 1)[1]) for d in os.listdir(model_dir)
         if d.startswith("fit_") and d.split("_", 1)[1].isdigit()),
        default=0)
    fit_name = f"fit_{n_fit}"
    fit_dir = os.path.join(model_dir, fit_name)
    merges_df.coalesce(1).write.mode("overwrite").parquet(
        fit_dir + "/merges")
    (apply_merges_to_words(wf.select("w"), merges)
     .write.mode("overwrite").parquet(fit_dir + "/vocab"))
    tmp = os.path.join(model_dir, f"CURRENT.{fit_name}.tmp")
    with open(tmp, "w") as f:
        f.write(fit_name)
    os.replace(tmp, os.path.join(model_dir, "CURRENT"))
    return len(merges)


def token_decontaminate_from_store(spark: SparkSession,
                                   docs: DataFrame,
                                   model_dir: str) -> DataFrame:
    """``token_ngram_decontaminate``'s tail under the PERSISTED
    tokenizer: (doc_id, n_shared_grams) with no fit loop and no
    corpus re-scan — bit-identical to the batch query when ``docs``
    is the corpus the frequency store ingested (every word is then in
    the fitted vocabulary), and a faithful generalization for unseen
    tranches: new words are tokenized by applying the stored merge
    table (``apply_merges_to_words`` over the distinct new words
    only)."""
    from cga_logs_to_kinesis_spark.operators.bpe import (
        apply_merges_to_words,
        token_decon_report,
    )
    from cga_logs_to_kinesis_spark.operators.corpus_quality import (
        norm_tokens,
    )
    from cga_logs_to_kinesis_spark.session import widen_for_explode

    fit_dir = _bpe_current_fit(model_dir)
    vocab = (_read_store(spark, fit_dir + "/vocab")
             if fit_dir is not None else None)
    if vocab is None:
        return spark.createDataFrame(
            [], "doc_id long, n_shared_grams long")
    # n_merges rows by construction — the bounded-collect class.
    merges = [(r.lhs, r.rhs)
              for r in spark.read.parquet(fit_dir + "/merges")
              .orderBy("step").collect()]
    new_words = (widen_for_explode(docs, "doc_id")
                 .select(F.explode(norm_tokens()).alias("w"))
                 .distinct()
                 .join(vocab.select("w"), "w", "left_anti"))
    full_vocab = vocab.select("w", "syms").unionByName(
        apply_merges_to_words(new_words, merges))
    return token_decon_report(docs, full_vocab)


def compact_bpe_freq_store(spark: SparkSession, freq_dir: str,
                           upto_batch_id: int,
                           files_per_partition: int = 1) -> int:
    """Fold word-frequency partials into the watermark base (counts
    SUM)."""
    return _compact_mergeable_store(spark, freq_dir, upto_batch_id,
                                    *_BPE_FREQ_MERGE, files_per_partition)


# ---------------------------------------------------------------------------
# Streaming n-gram novelty: first-occurrence state as a MIN-fold store
# ---------------------------------------------------------------------------
# The streaming twin of operators/dedup.py::q_ngram_novelty.  Novelty
# is defined on doc_id (not arrival order) precisely so the stream
# can fold it exactly under ANY arrival permutation: the state is
# (fp -> min doc_id seen) + (doc -> n_ngrams), and a document's
# novel-count is just the number of fingerprints whose folded min
# equals its id — group the fp store by its fold, no per-doc flags to
# retro-update when an earlier doc_id arrives late.  MIN is
# idempotent and commutative, so the store shares the distinct-store
# algebra: per-batch partials append batch_id-keyed, replays
# overwrite identically, crash-leftover duplicates cannot move a
# MIN, and compaction folds everything into a batch_id=-1 base.  The
# sink reads nothing across batches (flat per-batch work, measured);
# state is linear in distinct fingerprints — the band-index envelope.

def novelty_sink(fp_dir: str, doc_dir: str,
                 fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink over document batches: per-batch (fp ->
    min doc_id) partials + per-doc distinct-fingerprint counts."""
    from cga_logs_to_kinesis_spark.operators.dedup import (
        char_shingle_docs,
    )

    crash = _crash_once()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sh = char_shingle_docs(batch_df).localCheckpoint()
        pairs = sh.select("doc_id", F.explode("shingles").alias("fp"))
        _write_batch(pairs.groupBy("fp")
                     .agg(F.min("doc_id").alias("first_doc")),
                     batch_id, fp_dir)
        _write_batch(sh.select("doc_id", F.size("shingles").cast("long")
                               .alias("n_ngrams")),
                     batch_id, doc_dir)
        crash(batch_id, fail_after_write_for, "after write")

    return process


def compact_novelty_store(spark: SparkSession, fp_dir: str,
                          upto_batch_id: int,
                          files_per_partition: int = 1) -> int:
    """Fold fp partials at or below ``upto_batch_id`` (plus any
    existing base) into a ``batch_id=-1`` base via the MIN fold.
    MIN idempotence makes the plain distinct-store base discipline
    sufficient: a crash between base write and cleanup leaves
    duplicate (fp, first_doc) rows that cannot move any folded MIN."""
    df = _read_store(spark, fp_dir)
    if df is None:
        return 0
    sel = (F.col("batch_id") == -1) | (F.col("batch_id")
                                       <= upto_batch_id)
    to_fold = df.filter(sel)
    n_folded = (to_fold.filter(F.col("batch_id") >= 0)
                .select("batch_id").distinct().count())
    if n_folded == 0:
        return 0
    base = (to_fold.groupBy("fp")
            .agg(F.min("first_doc").alias("first_doc"))
            .coalesce(files_per_partition)
            .localCheckpoint())          # self-read: old base is input
    _write_batch(base, -1, fp_dir)
    _drop_batches(fp_dir, [b for b in _batch_ids(fp_dir)
                           if b != -1 and b <= upto_batch_id])
    return n_folded


def compact_novelty_doc_store(spark: SparkSession, doc_dir: str,
                              upto_batch_id: int,
                              files_per_partition: int = 1) -> int:
    """Fold the per-doc count store's batch partitions into the
    batch_id=-1 base — the doc store is DISTINCT-consumed (the report
    reads it through .distinct(); a replayed batch's duplicate
    (doc_id, n_ngrams) rows are harmless), so the shared base
    compactor applies verbatim."""
    return _compact_distinct_store(spark, doc_dir, upto_batch_id,
                                   ["doc_id", "n_ngrams"],
                                   files_per_partition)


def novelty_curve_from_store(spark: SparkSession, fp_dir: str,
                             doc_dir: str,
                             max_doc_id: int | None = None) -> DataFrame:
    """Fold the SAME stores into the corpus-level diminishing-returns
    curve (`operators/dedup.py::q_novelty_curve`): the novelty state —
    (fp -> min doc_id) + (doc -> n_ngrams) — already contains
    everything the decile fold reads, so the curve needs no extra
    sink.  new_fps per decile groups the folded MINs; total_fps per
    decile sums the per-doc counts (== the exploded pair count, the
    shingle arrays being distinct); the only window is the running
    sum over the 10 decile rows.

    ``max_doc_id`` pins the decile divisor to the corpus-wide max
    (what the batch query reads off `documents`); None derives it
    from the doc store, which differs only if the corpus's highest
    doc_id carries no shingles at all.
    """
    fps = _read_store(spark, fp_dir)
    docs = _read_store(spark, doc_dir)
    if fps is None or docs is None:
        return spark.createDataFrame(
            [], "decile int, total_fps long, new_fps long, "
                "cum_new long, cum_total long, cum_novelty double")
    per_doc = docs.select("doc_id", "n_ngrams").distinct()
    n = (max_doc_id if max_doc_id is not None
         else (per_doc.agg(F.max("doc_id")).first()[0] or 0))

    def decile(col):
        # integer DIV on both engines (the batch query's CAST trap)
        return F.least(F.lit(9),
                       F.expr(f"{col} * 10 DIV {int(n) + 1}")
                       .cast("int")).alias("decile")

    from pyspark.sql import Window

    first = (fps.groupBy("fp")
             .agg(F.min("first_doc").alias("first_doc"))
             .groupBy(decile("first_doc"))
             .agg(F.count("*").alias("new_fps")))
    tot = (per_doc.groupBy(decile("doc_id"))
           .agg(F.sum("n_ngrams").alias("total_fps")))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (tot.join(first, "decile", "left")
            .select("decile", "total_fps",
                    F.coalesce(F.col("new_fps"), F.lit(0))
                    .alias("new_fps"))
            .withColumn("cum_new", F.sum("new_fps").over(w))
            .withColumn("cum_total", F.sum("total_fps").over(w))
            .withColumn("cum_novelty",
                        F.col("cum_new").cast("double")
                        / F.col("cum_total"))
            .orderBy("decile"))


def ngram_novelty_from_store(spark: SparkSession, fp_dir: str,
                             doc_dir: str) -> DataFrame:
    """Fold the stores into the SAME per-doc report as the batch
    ``ngram_novelty`` query: MIN per fp, group the mins by doc, join
    the per-doc counts (novel-less docs get 0)."""
    fps = _read_store(spark, fp_dir)
    docs = _read_store(spark, doc_dir)
    if fps is None or docs is None:
        return spark.createDataFrame(
            [], "doc_id long, n_ngrams long, n_novel long, "
                "novelty double")
    novel = (fps.groupBy("fp")
             .agg(F.min("first_doc").alias("doc_id"))
             .groupBy("doc_id")
             .agg(F.count("*").alias("n_novel")))
    per_doc = docs.select("doc_id", "n_ngrams").distinct()
    return (per_doc.join(novel, "doc_id", "left")
            .select("doc_id", "n_ngrams",
                    F.coalesce(F.col("n_novel"), F.lit(0))
                    .alias("n_novel"))
            .withColumn("novelty",
                        F.col("n_novel").cast("double")
                        / F.col("n_ngrams"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Store-family registry: the auditable index of every incremental store
# ---------------------------------------------------------------------------
# One entry per batch_id-versioned store family in this module.  The
# registry is executable documentation: tests/test_store_registry.py
# verifies every referenced function exists, that every public *_sink
# here is claimed by exactly one family, and that docs/STORES.md
# (tools/gen_stores_md.py) matches — so the family count the docs
# claim can never drift from the code.

from dataclasses import dataclass as _dataclass


@_dataclass(frozen=True)
class StoreFamily:
    name: str
    fold: str                  # how partials merge at read time
    sinks: tuple[str, ...]     # foreachBatch factories (this module)
    readers: tuple[str, ...]   # store -> DataFrame consumers (this module)
    compactors: tuple[str, ...]
    note: str


STORE_FAMILIES: tuple[StoreFamily, ...] = (
    StoreFamily(
        "exact-dedup digest", "distinct",
        ("incremental_dedup_sink",), (), ("compact_digest_store",),
        "first-seen survivors; the anti-join consumer is idempotent "
        "under duplicate digests, which is what makes the crash "
        "window of compaction harmless"),
    StoreFamily(
        "minhash band index", "append (count-consumed)",
        ("minhash_incremental_sink",), (), (),
        "NO compactor by design: the consumer counts rows per bucket "
        "key (n_common_bands), so duplicate rows would change "
        "results — see compact_digest_store's docstring"),
    StoreFamily(
        "exact-setjoin prefix index", "append (join-consumed)",
        ("setjoin_index_sink",), (), (),
        "the minhash band index's EXACT sibling: fp-order prefix "
        "entries + fp-set store, consumed by "
        "operators/setjoin.py::setjoin_incremental_from_index — "
        "zero-false-negative incremental near-dup; NO compactor "
        "(append-only index, batch_id < current read filter covers "
        "replays)"),
    StoreFamily(
        "ANN bucket index", "append (distinct-consumed)",
        ("ann_index_sink",), (), (),
        "candidates are .distinct()ed by the reader "
        "(similarity.ann_incremental_from_index), so replay "
        "duplicates are harmless; hot buckets capped via "
        "bucket_bounded's anti-join"),
    StoreFamily(
        "image band index", "append (distinct-consumed)",
        ("image_index_sink",), (), (),
        "dHash band rows + wide fingerprints per image (never "
        "pixels): arriving media is decoded/hashed once, banded "
        "against the persisted index, Hamming-verified against the "
        "persisted fps store; candidates are .distinct()ed by the "
        "operator so replay duplicates are harmless, hot bands "
        "capped via bucket_bounded; NO compactor (append-only, "
        "batch_id < current read filter covers replays)"),
    StoreFamily(
        "SemDeDup assignment", "append (join-consumed)",
        ("semdedup_assign_sink",), (), (),
        "per-batch (vec_id, cluster, ccos) partials + the vector "
        "store, assigned under the FIXED centroid artifact "
        "(seed_semdedup_centroids, fitted once; production seeds it "
        "from trained k-means): assignment is row-local under fixed "
        "centroids, so partials append forever with no refit; "
        "arriving batches pair ONLY against same-cluster store "
        "members (the SemDeDup blocking, never all-pairs); NO "
        "compactor (append-only, batch_id < current read filter "
        "covers replays)"),
    StoreFamily(
        "ingest audit", "sum + min/max extrema",
        ("ingest_audit_sink",), ("ingest_audit_report_from_store",),
        ("compact_ingest_audit_store",),
        "per-shard JSONL-ingest health counters"),
    StoreFamily(
        "connected-components labels", "state (two versions kept)",
        ("components_incremental_sink",), (), ("compact_label_store",),
        "pointer-doubled labels; uncommitted-newest replay safety "
        "keeps the previous version until the next batch commits"),
    StoreFamily(
        "table profile", "sum partials + distinct values",
        ("table_profile_sink",), ("table_profile_report_from_store",),
        ("compact_profile_values",),
        "two stores: per-batch fold partials and the distinct-value "
        "store that makes COUNT(DISTINCT) re-foldable"),
    StoreFamily(
        "heavy hitters (Misra-Gries)", "sum (watermark base)",
        ("heavy_hitters_sink",), ("heavy_hitters_from_store",),
        ("compact_heavy_hitters_store",),
        "per-batch MG summaries; the -(upto+2) watermark-base "
        "discipline every summing store reuses started here"),
    StoreFamily(
        "bloom blocklist", "distinct",
        ("bloom_positions_sink",),
        ("bloom_bitmap_from_store", "bloom_decontaminate_from_store"),
        ("compact_bloom_store",),
        "set-bit positions; OR-fold is idempotent"),
    StoreFamily(
        "event-funnel state", "state (per-user candidate times)",
        ("funnel_state_sink",), ("event_funnel_from_store",),
        ("compact_funnel_state_store",),
        "late earlier-stage events can DEMOTE a reached stage — "
        "candidate times, not greedy stages, make the fold exact"),
    StoreFamily(
        "IVF index", "append (replay rewrites identical bytes)",
        ("ivf_index_sink",), ("cosine_topk_from_ivf_store",), (),
        "assignments + SQ8 codes + vectors; the sink reads nothing, "
        "so a replay overwrites its own partition byte-identically"),
    StoreFamily(
        "encoding audit", "sum (watermark base)",
        ("encoding_anomaly_sink",),
        ("encoding_anomaly_report_from_store",),
        ("compact_encoding_store",),
        "per-source encoding-damage counters"),
    StoreFamily(
        "script mixing", "sum (watermark base)",
        ("script_mixing_sink",), ("script_mixing_report_from_store",),
        ("compact_script_mixing_store",),
        "per-source confusable/homoglyph counters; shares "
        "script_counts_per_doc with the batch query"),
    StoreFamily(
        "skew monitor", "sum (watermark base)",
        ("skew_freq_sink",),
        ("skew_frequencies_from_store", "salted_join_plan_from_store"),
        ("compact_skew_freq_store",),
        "exact shuffle-key frequencies; the live salt planner reads "
        "the fold through the batch planner's exact tail"),
    StoreFamily(
        "n-gram novelty", "min (fp first-occurrence) + distinct docs",
        ("novelty_sink",),
        ("novelty_curve_from_store", "ngram_novelty_from_store"),
        ("compact_novelty_store", "compact_novelty_doc_store"),
        "novelty defined on doc_id, not arrival order, so any "
        "arrival permutation folds exactly"),
    StoreFamily(
        "corpus drift", "sum + decimal char-sum + distinct values",
        ("corpus_drift_sink",), ("corpus_drift_from_store",),
        ("compact_corpus_drift_sums", "compact_corpus_drift_values"),
        "per-decile tranche monitor; deciles keyed by a pinned "
        "max-doc-id snapshot"),
    StoreFamily(
        "line frequency / boilerplate", "sum (watermark base)",
        ("line_df_sink", "line_source_sink"),
        ("boilerplate_report_from_store", "line_scrub_from_store",
         "boilerplate_ratio_from_store", "line_pipeline_from_store"),
        ("compact_line_df_store", "compact_line_source_store"),
        "report, apply, per-source gate, and the full intra+corpus "
        "pipeline all run from the stores; per-batch distinct-doc "
        "counts SUM because a doc arrives in exactly one batch "
        "(enforceable via line_df_sink's seen_dir guard)"),
    StoreFamily(
        "token-count divergence", "sum (watermark base)",
        ("token_count_sink",),
        ("source_divergence_from_store", "mixture_from_store"),
        ("compact_token_count_store",),
        "one (source, tok) store; corpus counts are the same fold "
        "re-grouped, then the batch TV algebra applies — and the "
        "same store's per-source totals feed the temperature-mixture "
        "algebra (mixture_from_store), so divergence AND resampling "
        "rates ride one state"),
    StoreFamily(
        "classifier class counts", "sum (watermark base)",
        ("class_count_sink",), ("classifier_eval_from_store",),
        ("compact_class_count_store",),
        "the trained quality probe's sufficient statistics — B "
        "hashed-bucket rows of (n_pos, n_neg); every tranche updates "
        "the model (counts SUM), the reader scores any docs frame "
        "through lm_quality.classifier_confusion's exact tail, so "
        "the probe is continuously trained with no corpus re-scan"),
    StoreFamily(
        "bigram LM counts", "sum (watermark base)",
        ("bigram_count_sink",), ("perplexity_split_from_store",),
        ("compact_bigram_count_store",),
        "one (prev, w) count store IS the add-one bigram LM "
        "(context counts = per-prev sums, vocabulary = distinct key "
        "types — lm_quality.surprisal_from_counts' factoring); the "
        "reader scores any docs tranche through the batch query's "
        "exact tail, so the CCNet perplexity split rides "
        "continuously-maintained counts"),
    StoreFamily(
        "BPE tokenizer", "sum (watermark base) + fitted model artifact",
        ("bpe_vocab_sink",),
        ("fit_bpe_store", "token_decontaminate_from_store"),
        ("compact_bpe_freq_store",),
        "per-batch (w, freq) word-frequency partials — the "
        "tokenizer's sufficient statistics (merge learning consumes "
        "only the word-frequency table; bpe.word_freqs' factoring); "
        "fit_bpe_store folds them and runs the 10-round merge loop "
        "ONCE, persisting merge table + fitted vocabulary, so "
        "token_decontaminate_from_store applies the stored tokenizer "
        "with no refit and no corpus re-scan — unseen words tokenize "
        "through the stored merges"),
    StoreFamily(
        "HLL distinct sketch", "union (register-wise MAX)",
        ("hll_distinct_sink",), ("approx_distinct_from_store",),
        ("compact_hll_store",),
        "per-key COUNT(DISTINCT) without keeping the values: "
        "DataSketches HLL binaries, ~2^lg_k registers per (batch, "
        "key); union is idempotent so replay/crash leftovers cannot "
        "move a fold"),
)


# ---------------------------------------------------------------------------
# Streaming HLL distinct-count store: mergeable sketch state
# ---------------------------------------------------------------------------
# The one aggregate the summing stores can't carry: COUNT(DISTINCT x)
# per group, continuously, WITHOUT keeping every distinct value.  The
# distinct-value stores (table-profile, corpus-drift) are exact but
# their state is |distinct values|; at 100 TB a per-group distinct-id
# count wants the sketch form instead: per-batch Apache DataSketches
# HLL sketches (Spark's hll_sketch_agg — binary, fixed ~2^lg_k
# registers per group), folded with hll_union_agg.  Union is the
# register-wise MAX: idempotent AND commutative, so the store shares
# the MIN-fold family's algebra — replay duplicates cannot move a
# fold, crash-leftover rows are harmless, and the watermark-base
# compactor applies with the union as the merge.  Spark's own partial
# aggregation IS union-of-partials, so the folded estimate equals the
# single-shot batch sketch by construction (pinned by test).

def hll_distinct_sink(store_dir: str, key_col: str = "lang",
                      value_col: str = "doc_id", lg_k: int = 12,
                      fail_after_write_for: tuple[int, ...] = ()):
    """foreachBatch sink: per-batch per-key HLL sketches of
    ``value_col``, appended batch_id-keyed.  State per (batch, key)
    is one ~2^lg_k-register binary — independent of batch size."""
    return _partials_sink(
        store_dir,
        lambda b: (b.filter(F.col(key_col).isNotNull()).groupBy(key_col)
                   .agg(F.hll_sketch_agg(value_col, F.lit(lg_k))
                        .alias("sk"))),
        fail_after_write_for)


def _hll_union_fold(g):
    """HLL union is register-wise MAX: idempotent and commutative."""
    return g.agg(F.hll_union_agg("sk").alias("sk"))


def approx_distinct_from_store(spark: SparkSession, store_dir: str,
                               key_col: str = "lang") -> DataFrame:
    """Fold the sketch store into per-key approximate distinct counts
    (union then estimate) — equal to the single-shot batch sketch
    over the same rows because Spark's partial aggregation is itself
    union-of-partials."""
    s = _fold_store(spark, store_dir, [key_col], _hll_union_fold)
    if s is None:
        return spark.createDataFrame(
            [], f"{key_col} string, approx_distinct long")
    return (s.select(key_col, F.hll_sketch_estimate("sk")
                     .alias("approx_distinct"))
            .orderBy(key_col))


def compact_hll_store(spark: SparkSession, store_dir: str,
                      upto_batch_id: int, key_col: str = "lang",
                      files_per_partition: int = 1) -> int:
    """Fold sketch partials into the watermark base — HLL union is
    register-wise MAX (idempotent + commutative), so the shared
    mergeable compactor applies with the union as the merge."""
    return _compact_mergeable_store(spark, store_dir, upto_batch_id,
                                    [key_col], _hll_union_fold,
                                    files_per_partition)
