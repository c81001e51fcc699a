"""Persistable BM25 inverted index: build once, query across jobs.

``retrieval.bm25_topk`` scans the corpus per call; a real retrieval
deployment (decontamination triage, corpus search, hard-negative mining)
indexes ONCE and serves many query batches.  Layout — the way an
inverted file should sit in a warehouse:

- ``<path>/postings/bucket=K/`` — the postings list ``(token, doc_id,
  tf, dl)``, parquet-partitioned by ``bucket = pmod(xxhash64(token),
  n_buckets)`` and SORTED by token within each file.  A query batch
  touches only its terms' buckets (partition pruning on the equality/IN
  filter) and, within them, only the row groups whose token min/max
  straddle a query term (parquet statistics skipping on the sorted
  column).  Document length is DENORMALIZED into the posting row
  (+8 bytes/posting), so query time never joins a corpus-sized table:
  cost scales with matched postings, not corpus size.
- ``<path>/vocab/bucket=K/`` — ``(token, df)``, same bucketing, for the
  idf of the matched terms only.
- ``<path>/_bm25_meta.json`` — n_docs / sum_dl (exact ints; avgdl is
  re-derived as the SAME single double division the direct path
  computes) / n_buckets / format tag.

Scoring reuses ``retrieval.bm25_idf`` / ``bm25_term_score`` /
``bm25_rank_topk`` verbatim, so the index path returns BIT-IDENTICAL
rows to ``bm25_topk`` on the same corpus — asserted in
tests/test_bm25_index.py.

Growing corpora append SEGMENTS (Lucene-style, ``append_bm25_segment``):
a new batch writes its own postings/vocab under
``<path>/segments/seg-K/`` (same bucketing) and the meta — published
ATOMICALLY last, so the previous meta stays valid until the new segment
is durable — records per-segment exact (n_docs, sum_dl).  df/avgdl/N are GLOBAL statistics, so they are never
frozen into any segment: serve time derives N and avgdl from the summed
per-segment ints and df(t) from the summed per-segment vocab rows, which
keeps served scores BIT-IDENTICAL to a from-scratch rebuild on the
concatenated corpus (asserted in tests/test_bm25_segments.py).  Caller
contract: appended doc ids must be NEW — an id repeated across segments
would count as two documents (a rebuild would merge its tf rows).
When the segment count makes serve-time unions wide,
``compact_bm25_index`` merges everything back into a single base from
the postings alone (no corpus text needed), Lucene's merge policy in
one shot — GENERATIONALLY (r12): the merged base lands in a fresh
``<path>/base-gNNNNN/`` dir and the meta switches to it in one atomic
publish, so no compaction crash point ever leaves the index without a
valid meta (the meta's ``base_dir`` names the live base; absent = the
legacy ``<path>/postings``+``vocab`` root pair a build writes).
``repair_bm25_index`` sweeps whatever superseded/orphan dirs a crash
leaves.

DELETES (r12, Lucene's liveDocs model): ``delete_bm25_docs`` records
tombstoned ids generationally under ``<path>/tombstones/ts-gNNNNN/``
(atomic meta publish, same no-metaless-window discipline) and subtracts
the global stats EXACTLY from the per-part ``doclens/`` sidecar
``(doc_id, dl, fp_text)`` — one row per input doc, written by every
build/append.  Serving anti-joins matched postings against the
tombstone set and derives df(t) from the live rows, so served rows stay
bit-identical to a rebuild on the complement; compaction purges
tombstoned postings physically and clears the tombstone state.  The
takedown / right-to-be-forgotten lane: at 100 TB a deletion request
cannot mean a re-index.

Size ``n_buckets`` so one bucket's postings fit a scan task (~64 at the
test scales; thousands at 100 TB).

READER CONTRACT (ADVICE r12): writers serialize on the mutation lease,
but readers are lock-free — a reader that loaded a meta and lazily
executes its plan AFTER a compaction/vacuum/delete sweep may fail
mid-query on the swept superseded dirs.  The contract: a served plan
must either run promptly after its meta load (the plans this module
returns read their inputs on first action — re-serve on failure), or
the operator defers sweeping — pass ``sweep_superseded=False`` to
``compact_bm25_index``/``delete_bm25_docs`` and run
``repair_bm25_index(min_age_s=...)`` periodically instead, which only
sweeps once the publish that superseded a dir is at least ``min_age_s``
old, giving in-flight plans that long to drain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.functions.text import tokens
from restructure_hdfs_topic_spark.operators.retrieval import (
    bm25_idf,
    bm25_rank_topk,
    bm25_term_score,
)

_META = "_bm25_meta.json"
MAX_QUERY_TERMS = 100_000  # driver-side collect guard for the term set
_FP_SAMPLE_MOD = 101  # ~1% of docs contribute their TEXT hash to the fp


def _bucket(token_col, n_buckets: int):
    return F.pmod(F.xxhash64(token_col), F.lit(n_buckets)).cast("long")


def _base_root(meta: dict, path: str) -> str:
    """Directory holding the BASE postings/vocab pair: ``path`` itself
    for a fresh build (legacy layout), or ``path/base-gNNNNN`` after a
    generational compaction — compact writes the merged base into a NEW
    generation dir and switches to it in one atomic meta publish, so no
    crash point ever leaves the index without a valid meta.  (Shared
    lifecycle machinery: ``restructure_hdfs_topic_spark.generations``.)"""
    from restructure_hdfs_topic_spark.generations import base_root

    return base_root(meta, path)


def _doclens_dirs(meta: dict, path: str) -> list[str]:
    """Part dirs whose ``doclens/`` sidecar has rows: parts with ANY
    input doc (``fp_count`` > 0) — a doc with empty text is excluded
    from the postings (``n_docs``) but still owns a doclens row (dl 0),
    so the doclens reader keys on fp_count, not n_docs."""
    dirs = []
    if int(meta.get("fp_count", 0)) > 0:
        dirs.append(_base_root(meta, path))
    for s in meta.get("segments", []):
        if int(s.get("fp_count", 0)) > 0:
            dirs.append(f"{path}/segments/{s['name']}")
    return dirs


def _tombstone_df(spark: SparkSession, meta: dict, path: str):
    """The committed tombstone id set (one ``doc_id`` column), or None
    when the index has no deletions."""
    from restructure_hdfs_topic_spark.generations import tombstone_df

    return tombstone_df(
        spark, meta, path, "doc_id", schema=_tomb_schema(meta)
    )


def _tomb_schema(meta: dict) -> str | None:
    """Fixed tombstone-store schema from the meta's recorded id type
    (skips the parquet footer inference job, r13); None for pre-id_type
    metas, falling back to inference."""
    id_type = meta.get("id_type")
    return f"doc_id {id_type}" if id_type else None


def _store_schema(meta: dict, kind: str) -> str | None:
    """Fixed schema of one on-disk store (``postings``/``vocab``/
    ``doclens``) — every column type is pinned by the build's
    expressions (counts/sums are long, ``bucket`` is the long partition
    column), except the id whose type the meta records.  Passing it to
    the reader skips the per-directory parquet footer inference job
    every serve paid per segment (r13, guide §1/§6); None for
    pre-``id_type`` metas (inference fallback)."""
    id_type = meta.get("id_type")
    if not id_type:
        return None
    if kind == "postings":
        return f"doc_id {id_type}, token string, tf long, dl long, bucket long"
    if kind == "vocab":
        return "token string, df long, bucket long"
    if kind == "doclens":
        return f"doc_id {id_type}, dl long, fp_text long, bucket long"
    raise ValueError(f"unknown store kind {kind!r}")


def _read_store(spark: SparkSession, meta: dict, d: str, kind: str) -> DataFrame:
    schema = _store_schema(meta, kind)
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(f"{d}/{kind}")


# A crashed index writer's lease self-expires after this; break it earlier
# by deleting <path>/_lock/bm25-mutate.lock.  Shorter than the reference's
# 24 h topic lease (RedisRemoteLockManager.kt:43) on purpose: one index
# mutation is minutes of work, and a day-long stall after a crash would
# block every appender.
MUTATION_LOCK_TTL_S = 3600
_MUTATION_LOCK = "bm25-mutate"


def _mutation_lease(spark: SparkSession, path: str, lock: bool, ttl_s: int):
    """Acquire the index's single-writer mutation lease (VERDICT r11 #2:
    two concurrent appends derive the SAME segment name from the
    committed segment count).  Delegates to the shared
    ``locks.artifact_mutation_lease``; raises loudly when another live
    writer holds it — never lets the second writer proceed into a
    seg-NNNNN collision."""
    from restructure_hdfs_topic_spark.locks import artifact_mutation_lease

    return artifact_mutation_lease(
        spark, path, _MUTATION_LOCK, lock=lock, ttl_s=ttl_s
    )


def corpus_fingerprint(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    text_sample_mod: int = _FP_SAMPLE_MOD,
) -> dict:
    """Cheap corpus identity for staleness checks: row count, XOR of
    ``xxhash64(id)`` over every row, and XOR of ``xxhash64(id, text)``
    over a deterministic ``1/text_sample_mod`` id-hash sample.  XOR is
    commutative and overflow-free, so the value is partitioning-
    independent; the sampled text term catches the regenerated-in-place
    case (same id set, new text) without hashing the full corpus text per
    check.  One column-pruned scan.

    The text check is PROBABILISTIC at the default ~1% sample (ADVICE
    r11): it reliably detects wholesale regenerations, but an in-place
    edit touching fewer than ~``text_sample_mod`` documents' texts (with
    the id set unchanged) is likely to pass — each edited doc has a
    1/mod chance of being sampled.  Callers guarding small corpora or
    needing edit-level sensitivity should lower ``text_sample_mod``
    (``1`` hashes EVERY text — exact, one full text-column scan).  The
    chosen mod is recorded as ``fp_mod`` so later checks and segment
    folds always recompute under the same rule."""
    mod = max(1, int(text_sample_mod))
    sampled = (
        F.xxhash64(F.col(id_col), F.col(text_col))
        if mod == 1
        else F.when(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0,
            F.xxhash64(F.col(id_col), F.col(text_col)),
        )
    )
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("x_id"),
        F.bit_xor(sampled).alias("x_text"),
    ).collect()[0]
    return {
        "fp_count": int(row["n"]),
        "fp_xor_id": int(row["x_id"] or 0),
        "fp_xor_text": int(row["x_text"] or 0),
        "fp_mod": mod,
    }


def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    lock: bool = True,
    lock_ttl_s: int = MUTATION_LOCK_TTL_S,
) -> dict:
    """Materialize the inverted file at ``path``; returns the meta dict.

    ONE corpus-text scan feeds everything: the exploded token stream
    aggregates to the persisted tf table; dl = Σ_t tf(d,t) (every doc in
    ``base`` has ≥1 token, so ``token_count`` would count the same),
    the corpus stats aggregate dl, and df derives per token — all from
    cached tf, never re-reading the text.  One repartition on the
    bucket column gives one file per bucket dir.

    Every index MUTATION (build/append/compact) runs under the
    single-writer lease at ``<path>/_lock/`` (``lock=False`` opts out
    for callers that serialize externally): a second concurrent writer
    fails loudly instead of colliding on the artifact dirs.
    """
    from restructure_hdfs_topic_spark.generations import invalidate_meta

    lease = _mutation_lease(docs.sparkSession, path, lock, lock_ttl_s)
    try:
        # Invalidate FIRST (ADVICE r10): a build killed between the
        # postings overwrite and the meta write must present as "no meta"
        # (stale → rebuild), not leave the PREVIOUS intact meta describing
        # the new postings — that would silently serve new postings
        # against old vocab/n_docs/sum_dl.  Meta is re-written LAST, once
        # every artifact it describes is durably in place.  The shared
        # helper also removes the atomic publisher's fallback copies
        # (.old/.tmp) — the fallback READER would otherwise resurrect the
        # stale .old version and reopen exactly the window this closes.
        invalidate_meta(docs.sparkSession, f"{path}/{_META}")

        n_docs, sum_dl, fp = _write_segment(
            docs, path, id_col, text_col, n_buckets, fp_mod=_FP_SAMPLE_MOD
        )
        meta = {
            "format": "restructure_hdfs_topic_spark/bm25/v1",
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "n_buckets": int(n_buckets),
            "id_col": id_col,
            "id_type": docs.schema[id_col].dataType.simpleString(),
            "segments": [],
            "version": 0,
            # r12: every part of this index carries the doclens sidecar,
            # so tombstone deletes (delete_bm25_docs) are available.
            "doclens": True,
            # Corpus identity (ADVICE r10): lets a build-once caller
            # detect a corpus regenerated in place under the same
            # path/params instead of trusting the artifact blindly.
            # r14: rides the segment's doclens write as an Observation
            # (same row set, same sample rule) instead of re-scanning
            # the corpus.
            **fp,
        }
        _write_meta(docs.sparkSession, f"{path}/{_META}", meta)
        # A rebuild resets to the legacy root layout: sweep segment dirs
        # and generational bases a previous lifecycle left — they are
        # unreferenced by the fresh meta (a crash before this sweep
        # leaves harmless litter; repair_bm25_index also removes it).
        from restructure_hdfs_topic_spark.generations import (
            sweep_generational_litter,
        )

        sweep_generational_litter(
            docs.sparkSession,
            path,
            _META,
            seg_subdir="segments",
            sweep_meta_litter=False,  # invalidate_meta already ran
        )
        return meta
    finally:
        if lease is not None:
            lease.close()


def _write_segment(
    docs: DataFrame,
    seg_path: str,
    id_col: str,
    text_col: str,
    n_buckets: int,
    fp_mod: int = _FP_SAMPLE_MOD,
) -> tuple[int, int, dict]:
    """Materialize one segment's postings/vocab/doclens triple under
    ``seg_path``; returns its exact ``(n_docs, sum_dl, fingerprint)``.
    Shared by the base build and ``append_bm25_segment`` so a segment can
    never drift from the base layout (same bucketing, same sort, same
    denormalized dl).

    ``doclens/`` (r12, one row per INPUT doc — ``dl`` 0 for empty-text
    docs the postings exclude) is what makes tombstone DELETES exact
    without the corpus: ``delete_bm25_docs`` reads the deleted ids'
    ``dl`` from it to subtract the global stats, and the sampled
    ``fp_text`` hash (``xxhash64(id, text)`` where ``pmod(xxhash64(id),
    fp_mod) == 0``, the ``corpus_fingerprint`` rule) to fold the deleted
    docs OUT of the fingerprint — both exactly, neither re-reading the
    corpus text.

    r14 shape (guide §1.4, §2.6): the postings/vocab/doclens writes are
    INDEPENDENT consumers of the cached tf/dl tables, so they run
    overlapped from a 3-thread pool instead of serializing three
    straggler tails; the corpus fingerprint — one row per input doc,
    exactly the doclens row set — rides the doclens write as an
    ``Observation`` instead of a separate full-corpus scan (dir-listing-
    first per ADVICE r13 #3, so ``Observation.get`` is never consulted
    on a write whose metrics node was pruned).  ``dl`` is persisted: the
    stats aggregate, the postings join and the doclens join each
    consumed it, and each re-ran the groupBy over tf."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    from restructure_hdfs_topic_spark.caching import scoped_persist

    spark = docs.sparkSession
    base = docs.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
    )
    tf = scoped_persist(
        base.select("doc_id", F.explode(tokens(F.col("__text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf")),
        scope="bm25_index.build.tf",
    )
    dl = scoped_persist(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
        scope="bm25_index.build.dl",
    )
    # This collect is also the materializer: computing dl populates the
    # tf cache underneath it, so the three writes below read warm caches.
    stats_row = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ).collect()[0]
    n_docs = int(stats_row["n_docs"] or 0)
    sum_dl = int(stats_row["sum_dl"] or 0)

    mod = max(1, int(fp_mod))
    fp_text = (
        F.xxhash64(F.col(id_col), F.col(text_col))
        if mod == 1
        else F.when(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0,
            F.xxhash64(F.col(id_col), F.col(text_col)),
        )
    )
    doclens = (
        docs.select(F.col(id_col).alias("doc_id"), fp_text.alias("fp_text"))
        .join(dl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("dl"), F.lit(0).cast("long")).alias("dl"),
            "fp_text",
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_buckets))
            .cast("long")
            .alias("bucket"),
        )
    )
    # One doclens row per input doc (left join from docs against the
    # grouped dl), so the fingerprint aggregates over this frame equal
    # ``corpus_fingerprint(docs)`` under the same fp_mod — bit_xor skips
    # the unsampled rows' null fp_text exactly as the when() sample does.
    fp_obs = Observation()

    def _write_postings() -> None:
        spark.sparkContext.setJobDescription("bm25 segment: postings")
        postings = tf.join(dl, "doc_id").withColumn(
            "bucket", _bucket(F.col("token"), n_buckets)
        )
        (
            postings.repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "token", "doc_id")
            .write.mode("overwrite")
            # A rebuild must drop EVERY old bucket dir, including buckets
            # the new corpus leaves empty — under a session-level dynamic
            # partitionOverwriteMode those stale dirs would survive and
            # serve old postings against new global stats.
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(f"{seg_path}/postings")
        )

    def _write_vocab() -> None:
        spark.sparkContext.setJobDescription("bm25 segment: vocab")
        vocab = (
            tf.groupBy("token")
            .agg(F.count(F.lit(1)).alias("df"))
            .withColumn("bucket", _bucket(F.col("token"), n_buckets))
        )
        (
            vocab.repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "token")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(f"{seg_path}/vocab")
        )

    def _write_doclens() -> None:
        spark.sparkContext.setJobDescription("bm25 segment: doclens")
        (
            doclens.observe(
                fp_obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(F.col("doc_id"))).alias("x_id"),
                F.bit_xor(F.col("fp_text")).alias("x_text"),
            )
            .repartition(F.col("bucket"))
            .sortWithinPartitions("bucket", "doc_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(f"{seg_path}/doclens")
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [
            pool.submit(fn)
            for fn in (_write_postings, _write_vocab, _write_doclens)
        ]
        for fut in futs:
            fut.result()

    from restructure_hdfs_topic_spark.compression import fs_list_dir

    children = fs_list_dir(f"{seg_path}/doclens", spark)
    if not any(c.startswith("bucket=") for c in children):
        # Empty input: no part dirs were written, the metrics node may
        # have been pruned — never consult the observation (ADVICE r13
        # #3); the empty corpus's fingerprint is definitionally zeros.
        fp = {"fp_count": 0, "fp_xor_id": 0, "fp_xor_text": 0, "fp_mod": mod}
    else:
        from restructure_hdfs_topic_spark.generations import observation_get_bounded

        row = observation_get_bounded(fp_obs)
        if row is not None:
            fp = {
                "fp_count": int(row["n"]),
                "fp_xor_id": int(row["x_id"] or 0),
                "fp_xor_text": int(row["x_text"] or 0),
                "fp_mod": mod,
            }
        else:
            # Data exists but the metric never fired or is unreadable
            # (shouldn't happen — the write that produced the files also
            # fires the CollectMetrics node): bounded wait, then the scan.
            fp = corpus_fingerprint(
                docs, id_col=id_col, text_col=text_col, text_sample_mod=mod
            )
    return n_docs, sum_dl, fp


def append_bm25_segment(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    meta_extra: dict | None = None,
    lock: bool = True,
    lock_ttl_s: int = MUTATION_LOCK_TTL_S,
) -> dict:
    """Append a document batch to an existing index WITHOUT rebuilding:
    write a new segment dir (postings + vocab, same bucketing), then
    publish the meta with the segment's exact ``(n_docs, sum_dl)`` and a
    bumped ``version``.  Because the global statistics (N, avgdl, df)
    are derived at SERVE time from the per-segment ints, served scores
    stay bit-identical to a from-scratch rebuild on the concatenated
    corpus — the contract tests/test_bm25_segments.py pins.

    Crash discipline differs from the base build ON PURPOSE: a build
    overwrites dirs the old meta describes, so it must invalidate first;
    an append only ADDS a dir the old meta never references, so the old
    meta stays valid throughout and is replaced ATOMICALLY at the end
    (Lucene's segments_N publish).  An append killed mid-way therefore
    leaves the index serving the pre-append corpus, and a RETRY of the
    same batch overwrites its own orphan segment dir (the segment name
    derives from the committed segment count, and the segment write is
    mode=overwrite) — the property the streaming sink's exactly-once
    replay relies on.

    ``meta_extra`` merges extra keys into the published meta in the same
    atomic publish (the streaming sink stores its last committed batch
    id this way — state and data commit together).

    Caller contract: appended doc ids must be NEW.  An id already in an
    earlier segment would be served as two documents where a rebuild
    would merge its tf rows (checking would cost a corpus-sized join per
    append; an id-partitioned ingest upstream makes it structural).

    Runs under the single-writer mutation lease (VERDICT r11 #2): two
    concurrent appends would derive the SAME ``seg-NNNNN`` name from the
    committed segment count and silently overwrite each other — the
    lease makes the second writer fail loudly instead.  The lease is
    read INSIDE the held window, so the committed count cannot move
    between the read and the publish.
    """
    spark = docs.sparkSession
    lease = _mutation_lease(spark, path, lock, lock_ttl_s)
    try:
        meta = load_bm25_meta(spark, path)  # raises if absent/corrupt
        id_col = meta["id_col"]
        id_type = docs.schema[id_col].dataType.simpleString()
        if id_type != meta.get("id_type", id_type):
            raise ValueError(
                f"append_bm25_segment: id type {id_type!r} does not match "
                f"the index's {meta['id_type']!r}"
            )
        segs = list(meta.get("segments", []))
        name = f"seg-{len(segs):05d}"
        n_docs, sum_dl, fp = _write_segment(
            docs,
            f"{path}/segments/{name}",
            id_col,
            text_col,
            int(meta["n_buckets"]),
            # The index's own fp_mod, so folded fingerprints (compaction,
            # whole-corpus staleness checks) compose under ONE sample
            # rule.  r14: the fingerprint rides the segment's doclens
            # write (same rows, same rule) instead of re-scanning docs.
            fp_mod=int(meta.get("fp_mod", _FP_SAMPLE_MOD)),
        )
        meta["segments"] = segs + [
            {
                "name": name,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                **fp,
            }
        ]
        meta["version"] = int(meta.get("version", 0)) + 1
        if meta_extra:
            meta.update(meta_extra)
        _write_meta_atomic(spark, f"{path}/{_META}", meta)
        return meta
    finally:
        if lease is not None:
            lease.close()


def compact_bm25_index(
    spark: SparkSession,
    path: str,
    lock: bool = True,
    lock_ttl_s: int = MUTATION_LOCK_TTL_S,
    sweep_superseded: bool = True,
) -> dict:
    """Merge the base and every appended segment back into the
    single-base layout — WITHOUT the original corpus text (the postings
    are self-contained): segment doc ids are disjoint by the append
    contract, so the compacted postings are simply the union re-written
    under the base bucketing, vocab df(t) sums per token, and
    n_docs/sum_dl (and the corpus fingerprint: counts sum, XORs
    compose over disjoint id sets) fold from the per-segment meta.
    Served rows are unchanged — same tf/dl per doc, same global stats —
    asserted bit-identical in tests/test_bm25_segments.py.

    Use it when the segment count makes serve-time unions wide (Lucene's
    merge policy motivation): after compaction a query batch is back to
    ONE postings read per kind.

    Crash discipline (r12 — GENERATIONAL, Lucene's segments_N shape):
    the merged base is fully written into a NEW generation dir
    (``base-gNNNNN/``) while the old meta stays untouched, then the meta
    switches to it in ONE atomic publish, then the superseded dirs are
    deleted.  A crash before the publish leaves the index serving the
    pre-compaction state (the new generation is unreferenced litter —
    ``repair_bm25_index`` sweeps it); a crash after the publish leaves
    the NEW index valid with stale old dirs (same sweep).  There is no
    point at which the index lacks a valid meta — the delete-first
    window the r11 compactor had (and ADVICE r11 flagged as the state
    that forced the streaming sink's loud-refusal path) is gone.

    Runs under the same single-writer mutation lease as the appenders
    (VERDICT r11 #2): append∥compact was the one unsynchronized pairing
    — now a compactor and an appender serialize on ``<path>/_lock/``
    instead of racing the segment list.
    """
    from restructure_hdfs_topic_spark.compression import fs_delete_dir

    lease = _mutation_lease(spark, path, lock, lock_ttl_s)
    try:
        meta = load_bm25_meta(spark, path)
        segs = list(meta.get("segments", []))
        tomb = _tombstone_df(spark, meta, path)
        if not segs and tomb is None:
            return meta  # already compact, nothing tombstoned
        n_buckets = int(meta["n_buckets"])
        old_base = _base_root(meta, path)
        post_dirs = ([old_base] if int(meta["n_docs"]) > 0 else []) + [
            f"{path}/segments/{s['name']}" for s in segs if int(s["n_docs"]) > 0
        ]
        dl_dirs = _doclens_dirs(meta, path) if meta.get("doclens") else []
        parts = [meta] + segs
        merged = {
            "n_docs": sum(int(p["n_docs"]) for p in parts)
            - int(meta.get("n_deleted", 0)),
            "sum_dl": sum(int(p["sum_dl"]) for p in parts)
            - int(meta.get("sum_dl_deleted", 0)),
            "fp_count": sum(int(p.get("fp_count", 0)) for p in parts)
            - int(meta.get("fp_deleted_count", 0)),
            "fp_xor_id": int(meta.get("fp_deleted_xor_id", 0)),
            "fp_xor_text": int(meta.get("fp_deleted_xor_text", 0)),
        }
        for p in parts:
            merged["fp_xor_id"] ^= int(p.get("fp_xor_id", 0))
            merged["fp_xor_text"] ^= int(p.get("fp_xor_text", 0))

        if post_dirs or dl_dirs:
            from restructure_hdfs_topic_spark.generations import next_gen

            gen, new_base_name = next_gen(meta, "base_gen", "base-g")

            def _union(kind: str, dirs: list[str], cols: list[str]) -> DataFrame:
                out = None
                for d in dirs:
                    part = _read_store(spark, meta, d, kind).select(*cols)
                    out = part if out is None else out.unionByName(part)
                return out

        # The merged postings/vocab/doclens writes are independent jobs
        # over disjoint output dirs — run them overlapped (r14, guide
        # §2.6) instead of serializing three straggler tails.  Each
        # closure builds its own plan; no shared mutable state.
        write_thunks = []
        if post_dirs:

            def _merged_live() -> DataFrame:
                live = _union(
                    "postings", post_dirs, ["token", "doc_id", "tf", "dl"]
                )
                if tomb is not None:
                    # Physical purge: tombstoned postings do not survive
                    # the merge (this is what resets the tombstone state
                    # below).
                    live = live.join(tomb, "doc_id", "left_anti")
                return live

            def _write_merged_postings() -> None:
                spark.sparkContext.setJobDescription("bm25 compact: postings")
                posts = _merged_live().withColumn(
                    "bucket", _bucket(F.col("token"), n_buckets)
                )
                (
                    posts.repartition(F.col("bucket"))
                    .sortWithinPartitions("bucket", "token", "doc_id")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy("bucket")
                    .parquet(f"{path}/{new_base_name}/postings")
                )

            def _write_merged_vocab() -> None:
                spark.sparkContext.setJobDescription("bm25 compact: vocab")
                if tomb is None:
                    vocab = (
                        _union("vocab", post_dirs, ["token", "df"])
                        .groupBy("token")
                        .agg(F.sum("df").alias("df"))
                    )
                else:
                    # Per-part vocab sums would count deleted docs;
                    # recompute df from the purged postings (one extra
                    # postings scan — compaction is the O(index)
                    # operation, by design).
                    vocab = _merged_live().groupBy("token").agg(
                        F.count(F.lit(1)).alias("df")
                    )
                (
                    vocab.withColumn("bucket", _bucket(F.col("token"), n_buckets))
                    .repartition(F.col("bucket"))
                    .sortWithinPartitions("bucket", "token")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy("bucket")
                    .parquet(f"{path}/{new_base_name}/vocab")
                )

            write_thunks += [_write_merged_postings, _write_merged_vocab]
        if dl_dirs:

            def _write_merged_doclens() -> None:
                spark.sparkContext.setJobDescription("bm25 compact: doclens")
                doclens = _union("doclens", dl_dirs, ["doc_id", "dl", "fp_text"])
                if tomb is not None:
                    doclens = doclens.join(tomb, "doc_id", "left_anti")
                (
                    doclens.withColumn(
                        "bucket",
                        F.pmod(
                            F.xxhash64(F.col("doc_id")), F.lit(n_buckets)
                        ).cast("long"),
                    )
                    .repartition(F.col("bucket"))
                    .sortWithinPartitions("bucket", "doc_id")
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "static")
                    .partitionBy("bucket")
                    .parquet(f"{path}/{new_base_name}/doclens")
                )

            write_thunks.append(_write_merged_doclens)
        if write_thunks:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(write_thunks)) as pool:
                for fut in [pool.submit(fn) for fn in write_thunks]:
                    fut.result()
        if post_dirs or dl_dirs:
            meta["base_gen"] = gen
            meta["base_dir"] = new_base_name
        meta.update(merged)
        meta["segments"] = []
        # Tombstones are purged physically above — clear the subtraction
        # state (tomb_gen stays monotonic so a future delete can never
        # reuse an unswept orphan generation's name).
        meta["tomb_dir"] = ""
        meta["n_deleted"] = 0
        meta["sum_dl_deleted"] = 0
        meta["fp_deleted_count"] = 0
        meta["fp_deleted_xor_id"] = 0
        meta["fp_deleted_xor_text"] = 0
        meta["version"] = int(meta.get("version", 0)) + 1
        # THE publish: atomic replace — until this instant every reader
        # saw the pre-compaction meta and dirs, both fully intact.
        _write_meta_atomic(spark, f"{path}/{_META}", meta)
        # Post-publish cleanup of superseded dirs (crash here leaves
        # stale litter only; repair_bm25_index sweeps it).  With
        # ``sweep_superseded=False`` the dirs stay for an age-gated
        # ``repair_bm25_index(min_age_s=...)`` pass, so lock-free readers
        # holding the pre-compaction meta can drain (reader contract in
        # the module docstring).
        if sweep_superseded:
            if (post_dirs or dl_dirs) and old_base != _base_root(meta, path):
                fs_delete_dir(f"{old_base}/postings", spark)
                fs_delete_dir(f"{old_base}/vocab", spark)
                fs_delete_dir(f"{old_base}/doclens", spark)
                if old_base != path:
                    fs_delete_dir(old_base, spark)
            fs_delete_dir(f"{path}/segments", spark)
            fs_delete_dir(f"{path}/tombstones", spark)
        return meta
    finally:
        if lease is not None:
            lease.close()


def delete_bm25_docs(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    lock: bool = True,
    lock_ttl_s: int = MUTATION_LOCK_TTL_S,
    sweep_superseded: bool = True,
) -> dict:
    """Delete documents from the index WITHOUT the corpus and WITHOUT a
    rebuild (Lucene's liveDocs/tombstone model — the lifecycle piece a
    takedown / right-to-be-forgotten obligation needs at 100 TB, where
    re-indexing the corpus per deletion request is not an option):

    - the deleted ids are recorded in a generational tombstone dir
      (``<path>/tombstones/ts-gNNNNN/`` = previous set ∪ new hits) that
      the meta switches to in ONE atomic publish — the same no-metaless-
      window discipline as compaction;
    - the global statistics are subtracted EXACTLY from the ``doclens``
      sidecar (each hit's dl; its sampled ``fp_text`` folds the doc out
      of the corpus fingerprint) — one bounded aggregation, no per-id
      collect, no corpus read;
    - serve time anti-joins matched postings against the tombstone set
      and derives df(t) from the LIVE postings, so served rows are
      BIT-IDENTICAL to a from-scratch rebuild on the corpus minus the
      deleted docs (pinned in tests/test_bm25_delete.py);
    - ``compact_bm25_index`` purges tombstoned postings PHYSICALLY and
      clears the tombstone state.

    ``ids`` is a DataFrame carrying the index's id column (the
    ``append_bm25_segment`` discipline); ids not present in the index
    (or already deleted) are ignored — deleting them is a no-op exactly
    as a rebuild on the complement would be.  Returns the published
    meta; a no-hit call returns the meta UNCHANGED (no version bump, so
    ``expected_version`` serving tiers see no movement).

    Requires the doclens sidecar (every index built since r12); indexes
    built before it must rebuild once to enable deletes.  Runs under the
    single-writer mutation lease.
    """
    from restructure_hdfs_topic_spark.compression import fs_delete_dir

    lease = _mutation_lease(spark, path, lock, lock_ttl_s)
    try:
        meta = load_bm25_meta(spark, path)
        if not meta.get("doclens"):
            raise ValueError(
                "delete_bm25_docs: index predates the doclens sidecar — "
                "rebuild it once (build_bm25_index) to enable deletes"
            )
        id_col = meta["id_col"]
        if id_col not in ids.columns:
            raise ValueError(
                f"delete_bm25_docs: ids frame lacks the index's id column "
                f"{id_col!r} (columns: {ids.columns})"
            )
        id_type = ids.schema[id_col].dataType.simpleString()
        if id_type != meta.get("id_type", id_type):
            raise ValueError(
                f"delete_bm25_docs: id type {id_type!r} does not match "
                f"the index's {meta['id_type']!r}"
            )
        dl_dirs = _doclens_dirs(meta, path)
        if not dl_dirs:
            return meta  # empty index — nothing to delete
        want = ids.select(F.col(id_col).alias("doc_id")).distinct()
        doclens = None
        for d in dl_dirs:
            part = _read_store(spark, meta, d, "doclens").select(
                "doc_id", "dl", "fp_text"
            )
            doclens = part if doclens is None else doclens.unionByName(part)
        tomb = _tombstone_df(spark, meta, path)
        if tomb is not None:
            doclens = doclens.join(tomb, "doc_id", "left_anti")
        # Broadcast the delete batch so the sidecar-sized scan joins
        # without an exchange (guide §3.1); the bound is ENFORCED with a
        # limit-probe (ADVICE r13 #2) — an over-cap takedown set falls
        # back to the planner's join instead of OOMing the driver.
        from restructure_hdfs_topic_spark.generations import broadcast_if_bounded

        # Durability-first stat derivation: the subtraction stats ride
        # the tombstone-generation WRITE as an ``Observation`` on the
        # hits subtree (r14, guide §1.4) — the observed rows ARE the rows
        # that materialize into the durable set (hits is already
        # anti-joined against the old tombstones, so hits ≡ written ∖
        # old), which preserves the invariant that published stats can
        # never disagree with the durable ids even when ``ids`` is a
        # non-deterministic plan.  Bounded-wait getter + read-back
        # fallback (ADVICE r13 #3): a pruned metrics node degrades to
        # the previous separate aggregation job, never to a hang.
        from pyspark.sql import Observation

        from restructure_hdfs_topic_spark.generations import (
            drop_tombstone_generation,
            observation_get_bounded,
            write_tombstone_generation,
        )

        del_obs = Observation()
        hits = doclens.join(broadcast_if_bounded(want), "doc_id").observe(
            del_obs,
            F.count(F.lit(1)).alias("n_all"),
            F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.bit_xor(F.xxhash64(F.col("doc_id"))).alias("x_id"),
            F.bit_xor(F.col("fp_text")).alias("x_text"),
        )
        new_tomb = hits.select("doc_id")
        if tomb is not None:
            new_tomb = new_tomb.unionByName(tomb)
        gen, name, written = write_tombstone_generation(
            spark, path, meta, new_tomb, "doc_id", schema=_tomb_schema(meta)
        )
        agg = observation_get_bounded(del_obs)
        if agg is None:
            newly = (
                written.join(tomb, "doc_id", "left_anti")
                if tomb is not None
                else written
            )
            agg = doclens.join(newly, "doc_id").agg(
                F.count(F.lit(1)).alias("n_all"),
                F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("n_docs"),
                F.sum("dl").alias("sum_dl"),
                F.bit_xor(F.xxhash64(F.col("doc_id"))).alias("x_id"),
                F.bit_xor(F.col("fp_text")).alias("x_text"),
            ).collect()[0]
        n_all = int(agg["n_all"] or 0)
        if n_all == 0:
            # No live hits — rebuild-on-complement no-op.  Remove the
            # just-written (empty-delta) generation: the committed meta
            # never references it.
            drop_tombstone_generation(spark, path, meta, name)
            return meta
        old_name = meta.get("tomb_dir", "")
        meta["tomb_dir"], meta["tomb_gen"] = name, gen
        meta["n_deleted"] = int(meta.get("n_deleted", 0)) + int(
            agg["n_docs"] or 0
        )
        meta["sum_dl_deleted"] = int(meta.get("sum_dl_deleted", 0)) + int(
            agg["sum_dl"] or 0
        )
        meta["fp_deleted_count"] = int(meta.get("fp_deleted_count", 0)) + n_all
        meta["fp_deleted_xor_id"] = int(meta.get("fp_deleted_xor_id", 0)) ^ int(
            agg["x_id"] or 0
        )
        meta["fp_deleted_xor_text"] = int(
            meta.get("fp_deleted_xor_text", 0)
        ) ^ int(agg["x_text"] or 0)
        meta["version"] = int(meta.get("version", 0)) + 1
        # THE publish (atomic): crash before = orphan ts-g litter, old
        # tombstone set still served; crash after = stale old ts dir.
        # repair_bm25_index sweeps both; a replayed delete re-derives the
        # same generation name from the committed tomb_gen and overwrites
        # its own orphan (hits recomputed against the COMMITTED
        # tombstones, so the union converges).
        _write_meta_atomic(spark, f"{path}/{_META}", meta)
        if old_name and sweep_superseded:
            fs_delete_dir(f"{path}/tombstones/{old_name}", spark)
        return meta
    finally:
        if lease is not None:
            lease.close()


def repair_bm25_index(
    spark: SparkSession,
    path: str,
    lock: bool = True,
    lock_ttl_s: int = MUTATION_LOCK_TTL_S,
    min_age_s: float = 0.0,
) -> dict:
    """Janitor for crash litter (Lucene's orphan-file cleanup analogue):
    delete segment directories the committed meta does NOT reference — a
    crashed append leaves its segment dir orphaned until a retry of the
    same batch happens to overwrite it — plus stale ``compact-tmp/`` and
    meta ``.tmp``/``.old`` leftovers.  Referenced data is never touched;
    if a REFERENCED segment dir is missing on disk the index is damaged
    beyond janitorial repair and this raises, listing the missing names
    (recover from the corpus with a rebuild).

    Runs under the same single-writer mutation lease as the mutators, so
    it can run any time without racing an in-flight append (whose
    segment is unreferenced until its atomic meta publish — the lease
    is what makes "unreferenced ⇒ orphan" a safe inference).

    ``min_age_s`` is the lock-free READER grace period (module
    docstring's reader contract): when the committed meta was published
    less than ``min_age_s`` ago, the sweep is deferred (damage
    validation still runs) — every unreferenced dir became unreferenced
    no earlier than that publish, so waiting out the meta's age
    guarantees in-flight plans loaded against the prior meta had at
    least ``min_age_s`` to drain.

    Returns ``{"removed": [...], "kept": [...]}`` (plus
    ``"deferred": True`` when the age gate skipped the sweep).
    """
    from restructure_hdfs_topic_spark.compression import (
        fs_list_dir,
        small_file_exists,
    )

    lease = _mutation_lease(spark, path, lock, lock_ttl_s)
    try:
        meta = load_bm25_meta(spark, path)  # raises if absent/corrupt
        referenced = [s["name"] for s in meta.get("segments", [])]
        on_disk = set(fs_list_dir(f"{path}/segments", spark))
        missing = sorted(set(referenced) - on_disk)
        if missing:
            raise RuntimeError(
                f"repair_bm25_index: meta references segment dirs missing "
                f"on disk: {missing} — the index is damaged; rebuild from "
                "the corpus"
            )
        base_name = meta.get("base_dir", "")
        if int(meta["n_docs"]) > 0 and not small_file_exists(
            f"{_base_root(meta, path)}/postings", spark=spark
        ):
            raise RuntimeError(
                f"repair_bm25_index: meta references base dir "
                f"{base_name or '<root>'} whose postings are missing on "
                "disk — the index is damaged; rebuild from the corpus"
            )
        tomb_name = meta.get("tomb_dir", "")
        tombs_on_disk = set(fs_list_dir(f"{path}/tombstones", spark))
        if tomb_name and tomb_name not in tombs_on_disk:
            raise RuntimeError(
                f"repair_bm25_index: meta references tombstone dir "
                f"{tomb_name} missing on disk — the index is damaged; "
                "rebuild from the corpus"
            )
        from restructure_hdfs_topic_spark.generations import age_gate_deferred

        if age_gate_deferred(spark, f"{path}/{_META}", min_age_s):
            return {
                "removed": [],
                "kept": sorted(referenced),
                "deferred": True,
            }
        # One shared sweep (generations.py): unreferenced segments,
        # superseded/orphan base generations, the legacy root triple once
        # a generational base took over, orphan tombstone generations,
        # compact-tmp scratch, and meta .tmp/.old litter.
        from restructure_hdfs_topic_spark.generations import (
            sweep_generational_litter,
        )

        removed = sweep_generational_litter(
            spark,
            path,
            _META,
            keep_children={base_name} if base_name else set(),
            tomb_dir=tomb_name,
            legacy_kinds=("postings", "vocab", "doclens") if base_name else (),
            seg_subdir="segments",
            referenced_segments=set(referenced),
            extra_dirs=("compact-tmp",),
        )
        return {"removed": removed, "kept": sorted(referenced)}
    finally:
        if lease is not None:
            lease.close()


def load_bm25_meta(spark: SparkSession, path: str) -> dict:
    return _read_meta(spark, f"{path}/{_META}")


def query_bm25_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    expected_version: int | None = None,
) -> DataFrame:
    """Serve a ``(query_id, term)`` batch from the on-disk index —
    bit-identical to ``bm25_topk`` over the indexed corpus (base build
    plus every appended segment).

    The distinct term set collects to the driver (bounded by
    ``MAX_QUERY_TERMS`` — query batches are small by contract, like the
    ANN paths' query sides) and becomes LITERAL pruning/pushdown
    filters: ``bucket IN (…)`` prunes partition directories, ``token IN
    (…)`` reaches the parquet row-group statistics of the sorted token
    column — applied to EVERY segment's read, so the union still touches
    matched postings only.  Global stats (N, avgdl) sum the per-segment
    exact ints; df(t) sums the matched per-segment vocab rows.

    ``expected_version`` is the stale-read guard (same discipline as the
    Bloom sidecars): a serving tier that cached plans against version V
    passes it and fails LOUDLY if a concurrent append moved the index
    on, instead of silently mixing old assumptions with new data.
    """
    meta = load_bm25_meta(spark, path)
    if expected_version is not None and int(meta.get("version", 0)) != int(
        expected_version
    ):
        raise ValueError(
            f"query_bm25_index: index at version {meta.get('version', 0)}, "
            f"caller expected {expected_version} — re-resolve the index "
            "before serving"
        )
    n_buckets = int(meta["n_buckets"])
    segs = list(meta.get("segments", []))
    # Global stats: per-part exact ints summed, tombstoned docs' exact
    # contributions (recorded at delete time from doclens) subtracted —
    # identical to what a rebuild on the complement would aggregate.
    n_docs = (
        int(meta["n_docs"])
        + sum(int(s["n_docs"]) for s in segs)
        - int(meta.get("n_deleted", 0))
    )
    if n_docs == 0:
        return _empty_result(spark, meta, queries)
    sum_dl = (
        int(meta["sum_dl"])
        + sum(int(s["sum_dl"]) for s in segs)
        - int(meta.get("sum_dl_deleted", 0))
    )
    # avgdl: the SAME exact-int sum and single double division the
    # direct path computes in-plan.
    avgdl = float(sum_dl) / float(n_docs)
    # Segment dirs with documents (an all-empty batch writes no parquet
    # files — reading it would fail on schema inference, and it cannot
    # contribute postings anyway).
    seg_dirs = ([_base_root(meta, path)] if int(meta["n_docs"]) > 0 else []) + [
        f"{path}/segments/{s['name']}" for s in segs if int(s["n_docs"]) > 0
    ]

    # NULL terms can never match a posting (the direct path's inner join
    # drops them); drop them here too so the two paths stay equivalent
    # (and the driver-side sorted() below never compares None to str).
    qterms_df = (
        queries.filter(F.col("term").isNotNull())
        .select("query_id", F.col("term").alias("token"))
        .distinct()
    )
    term_rows = (
        qterms_df.select("token")
        .distinct()
        .withColumn("bucket", _bucket(F.col("token"), n_buckets))
        .limit(MAX_QUERY_TERMS + 1)
        .collect()
    )
    if len(term_rows) > MAX_QUERY_TERMS:
        raise ValueError(
            f"query_bm25_index: term set exceeds MAX_QUERY_TERMS="
            f"{MAX_QUERY_TERMS}; split the query batch"
        )
    if not term_rows:
        return _empty_result(spark, meta, queries)
    terms = sorted({r["token"] for r in term_rows})
    buckets = sorted({int(r["bucket"]) for r in term_rows})

    def _read_union(kind: str, cols: list[str]) -> DataFrame:
        parts = [
            _read_store(spark, meta, d, kind)
            .filter(F.col("bucket").isin(buckets) & F.col("token").isin(terms))
            .select(*cols)
            for d in seg_dirs
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    tomb = _tombstone_df(spark, meta, path)
    if tomb is None:
        # df(t) is global: the same token's per-segment document counts
        # SUM (segments hold disjoint doc ids by contract), exactly what
        # one rebuild's groupBy would count.
        vocab = _read_union("vocab", ["token", "df"]).groupBy("token").agg(
            F.sum("df").alias("df")
        )
        postings_live = _read_union("postings", ["token", "doc_id", "tf", "dl"])
    else:
        # Tombstones: anti-join the MATCHED postings (cost ∝ matched
        # rows, not index size) and derive df(t) from the live rows —
        # each (token, doc) appears exactly once across segments, so the
        # live count IS the df a rebuild on the complement would compute
        # (the per-part vocab sums would overcount deleted docs).
        from restructure_hdfs_topic_spark.caching import scoped_persist

        postings_live = scoped_persist(
            _read_union("postings", ["token", "doc_id", "tf", "dl"]).join(
                tomb, "doc_id", "left_anti"
            ),
            scope="bm25_index.query.tombstoned_postings",
        )
        vocab = postings_live.groupBy("token").agg(
            F.count(F.lit(1)).alias("df")
        )
    qweights = (
        qterms_df.join(vocab, "token")
        .withColumn("__idf", bm25_idf(F.lit(n_docs).cast("long"), F.col("df")))
        .select("query_id", "token", "__idf")
    )
    postings = postings_live.select(
        "token", F.col("doc_id").alias("__id"), "tf", "dl"
    )
    scored = postings.join(F.broadcast(qweights), "token").withColumn(
        "__term_score",
        bm25_term_score(
            F.col("tf"), F.col("dl"), F.col("__idf"), F.lit(avgdl), k1, b
        ),
    )
    return bm25_rank_topk(scored, k, meta.get("id_col", "doc_id"))


def _empty_result(spark: SparkSession, meta: dict, queries: DataFrame) -> DataFrame:
    """Empty frame with the SAME schema the normal path produces: the id
    type comes from the index meta (string-id corpora exist) and the
    query_id type from the caller's batch — so unions over batches never
    hit a type conflict on the empty case."""
    id_col = meta.get("id_col", "doc_id")
    id_type = meta.get("id_type", "long")
    qid_type = queries.schema["query_id"].dataType.simpleString()
    return spark.createDataFrame(
        [],
        f"query_id {qid_type}, rank long, {id_col} {id_type}, "
        "n_terms_matched bigint, score double",
    )


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    from restructure_hdfs_topic_spark.generations import write_meta

    write_meta(spark, path, meta)


def _write_meta_atomic(spark: SparkSession, path: str, meta: dict) -> None:
    from restructure_hdfs_topic_spark.generations import publish_meta

    publish_meta(spark, path, meta)


def _read_meta(spark: SparkSession, path: str) -> dict:
    # Fallback-aware (generations.read_meta): the atomic publish's
    # object-store fallback path can leave the previous version at
    # <path>.old for one instant — reading it honors "the old meta stays
    # valid until the new one is durable".
    from restructure_hdfs_topic_spark.generations import read_meta

    return read_meta(spark, path)


def bm25_meta_exists(spark: SparkSession, path: str) -> bool:
    """Whether the index at ``path`` has a (possibly fallback-``.old``)
    published meta — the explicit existence check the streaming sink's
    bootstrap decision needs (ADVICE r11: a transient read error must not
    look like "first batch")."""
    from restructure_hdfs_topic_spark.generations import meta_exists

    return meta_exists(spark, f"{path}/{_META}")


def bm25_artifacts_exist(spark: SparkSession, path: str) -> bool:
    """Whether any index DATA directories exist at ``path`` (postings,
    vocab, doclens, segments, tombstones, or a generational ``base-g*``)
    — artifacts-without-meta means an interrupted build or external
    damage, never a safe bootstrap target."""
    from restructure_hdfs_topic_spark.compression import (
        fs_list_dir,
        small_file_exists,
    )

    if any(
        small_file_exists(f"{path}/{d}", spark=spark)
        for d in ("postings", "vocab", "doclens", "segments", "tombstones")
    ):
        return True
    return any(c.startswith("base-g") for c in fs_list_dir(path, spark))
