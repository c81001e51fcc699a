"""Driver-side file pruning (O4): the restructure job, the cleaner and the
records-table job prune committed source files on the driver through one
bisect index (``offsets.committed_range_index``) over the collected state.

- differential: the driver prune equals the DataFrame operator
  ``filter_unseen_files(manifest_df(...), state)`` on random states and
  manifests, and the cleaner's +1 containment matches a brute force;
- Spark-job budget: an idle restructure poll over a fully committed tree
  runs exactly one Spark job, a state read none, a commit at most two.
"""

import os
import random
import struct
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from restructure_hdfs_topic_spark.config import RestructureConfig, WorkerConfig
from restructure_hdfs_topic_spark.operators.offsets import (
    STATE_SCHEMA,
    commit_offsets,
    committed_intervals,
    committed_range_index,
    filter_unseen_files,
    read_offsets,
    replace_offsets,
)
from restructure_hdfs_topic_spark.plans.avro_job import (
    run_avro_restructure_job,
    unseen_files,
)
from restructure_hdfs_topic_spark.sources.avro import SourceFile, manifest_df
from tests.conftest import prop_examples
from tests.test_avro_ingest import _build_container

# 2024-03-01T00:00Z.
_BASE_S = 1709251200.0


def _driver_prune(spark, state_dir, files):
    index = committed_range_index(committed_intervals(spark, state_dir))
    return [f.path for f in unseen_files(files, index)]


def _dataframe_prune(spark, state_dir, files):
    state = read_offsets(spark, state_dir)
    return sorted(
        r["path"] for r in filter_unseen_files(manifest_df(spark, files), state).collect()
    )


def _write_state(spark, state_dir, rows):
    """Commit ``rows`` (topic, partition, from, to, last_processed_us | None)
    as the current state version."""
    os.makedirs(state_dir, exist_ok=True)
    df = spark.createDataFrame(
        rows, "topic string, partition int, offset_from long, offset_to long, lp_us long"
    ).select(
        "topic", "partition", "offset_from", "offset_to",
        F.timestamp_micros("lp_us").alias("last_processed"),
    )
    replace_offsets(spark, state_dir, df)


def _file(topic, partition, lo, hi, mtime_s):
    return SourceFile(
        f"/in/{topic}/partition={partition}/{topic}+{partition}+{lo:010d}+{hi:010d}.avro",
        topic, partition, lo, hi, mtime_s, 1,
    )


def test_driver_prune_named_cases(spark, tmp_path):
    """The edge cases the prune must get exactly right, each pinned both
    against the DataFrame operator and against the expected verdict."""
    m = _BASE_S + 0.1234567  # not a whole number of micros
    m_us = int(m * 1_000_000)
    state = [
        ("t", 0, 0, 99, m_us),  # last_processed == the file mtime, in micros
        ("t", 1, 0, 99, None),  # NULL last_processed
        ("t", 2, 0, 9, m_us),  # two unmerged intervals with a gap at 10
        ("t", 2, 11, 20, m_us),
    ]
    files = {
        "equal_mtime": (_file("t", 0, 10, 19, m), True),
        "newer_by_2us": (_file("t", 0, 20, 29, m + 2e-6), False),
        "single_offset_in": (_file("t", 0, 50, 50, m), True),
        "single_offset_edge": (_file("t", 0, 99, 99, m), True),
        "past_end": (_file("t", 0, 95, 100, m), False),
        "null_last_processed": (_file("t", 1, 0, 5, m), False),
        "straddles_two": (_file("t", 2, 5, 15, m), False),
        "inside_second": (_file("t", 2, 11, 20, m), True),
        "in_gap": (_file("t", 2, 10, 10, m), False),
        "partition_absent": (_file("t", 7, 0, 5, m), False),
        "topic_absent": (_file("u", 0, 0, 5, m), False),
    }
    state_dir = str(tmp_path / "state")
    _write_state(spark, state_dir, state)
    listed = [f for f, _ in files.values()]
    want = sorted(f.path for f, seen in files.values() if not seen)
    assert sorted(_driver_prune(spark, state_dir, listed)) == want
    assert _dataframe_prune(spark, state_dir, listed) == want


@st.composite
def _state_and_files(draw):
    rng = random.Random(draw(st.integers(0, 2**32 - 1)))
    mtimes = [_BASE_S + rng.random() * 86400 for _ in range(6)]
    mtime_us = [int(m * 1_000_000) for m in mtimes]
    state, files = [], []
    for topic in ("a", "b"):
        for part in range(3):
            if rng.random() < 0.8:  # some partitions stay absent from the state
                pos = rng.randint(0, 5)
                for _ in range(rng.randint(1, 4)):
                    lo = pos
                    hi = lo + rng.randint(0, 12)
                    lp = rng.choice(
                        [None] + [u + d for u in mtime_us for d in (-1, 0, 1)]
                    )
                    state.append((topic, part, lo, hi, lp))
                    # Gap >= 1 keeps intervals disjoint; a gap of exactly 1
                    # leaves adjacent-but-unmerged intervals to straddle.
                    pos = hi + rng.randint(1, 6)
            for _ in range(rng.randint(0, 5)):
                lo = rng.randint(0, 60)
                hi = lo + rng.choice([0, 0, rng.randint(1, 15)])  # single-offset files
                files.append(_file(topic, part, lo, hi, rng.choice(mtimes)))
    # Distinct paths, as a directory listing yields.
    files = list({f.path: f for f in files}.values())
    return state, files


@settings(
    max_examples=prop_examples(24),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(case=_state_and_files())
def test_driver_prune_matches_filter_unseen_files(spark, case):
    state, files = case
    with tempfile.TemporaryDirectory() as tmp:
        state_dir = os.path.join(tmp, "state")
        _write_state(spark, state_dir, state)
        assert sorted(_driver_prune(spark, state_dir, files)) == _dataframe_prune(
            spark, state_dir, files
        )
        # The collected rows carry the committed micros verbatim.
        assert sorted(committed_intervals(spark, state_dir), key=repr) == sorted(
            state, key=repr
        )
    # The cleaner's +1 containment on the same index, against the brute
    # force of test_committed_range_index_matches_bruteforce_and_scales.
    contains = committed_range_index(state)
    for f in files:
        want = any(
            t == f.topic and p == f.partition and lo <= f.offset_from and f.offset_to + 1 <= hi
            for t, p, lo, hi, _ in state
        )
        assert contains(f.topic, f.partition, f.offset_from, f.offset_to + 1) == want


def test_driver_prune_output_order():
    """Pending files come out in NUMERIC (partition, offset) order, so the
    maxFilesPerTopic cap takes the earliest."""
    files = [
        _file("t", 1, 0, 0, _BASE_S),
        _file("t", 0, 10000, 10001, _BASE_S),
        _file("t", 0, 9000, 9001, _BASE_S),
    ]
    got = unseen_files(files, committed_range_index([]))
    assert [(f.partition, f.offset_from) for f in got] == [(0, 9000), (0, 10000), (1, 0)]


# --- Spark-job budget --------------------------------------------------------


def _zz(v: int) -> bytes:
    v = (v << 1) ^ (v >> 63)
    out = b""
    while True:
        b7 = v & 0x7F
        v >>= 7
        if v:
            out += bytes([b7 | 0x80])
        else:
            return out + bytes([b7])


def _string(s: str) -> bytes:
    return _zz(len(s.encode())) + s.encode()


_SCHEMA = {
    "type": "record",
    "name": "Obs",
    "fields": [
        {
            "name": "key",
            "type": {
                "type": "record",
                "name": "ObservationKey",
                "fields": [
                    {"name": "projectId", "type": "string"},
                    {"name": "userId", "type": "string"},
                    {"name": "sourceId", "type": "string"},
                ],
            },
        },
        {
            "name": "value",
            "type": {
                "type": "record",
                "name": "Reading",
                "fields": [
                    {"name": "time", "type": "double"},
                    {"name": "x", "type": "long"},
                ],
            },
        },
    ],
}


def _write_tree(root: str, topic: str = "budget_topic") -> int:
    """Two partitions x three files x four records, hand-encoded; returns
    the record count."""
    n = 0
    for part in (0, 1):
        d = os.path.join(root, topic, f"partition={part}")
        os.makedirs(d)
        for f in range(3):
            lo = f * 4
            datums = b""
            for i in range(4):
                datums += _string("p1") + _string(f"u{part}{i % 2}") + _string("s")
                datums += struct.pack("<d", _BASE_S + 60.0 * (lo + i)) + _zz(lo + i)
            path = os.path.join(d, f"{topic}+{part}+{lo:010d}+{lo + 3:010d}.avro")
            with open(path, "wb") as fh:
                fh.write(_build_container(_SCHEMA, datums, 4))
            n += 4
    return n


def _jobs_in_group(spark, group: str, fn):
    """(Spark jobs ``fn`` ran, its result), counted by job group once the
    listener bus has drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_idle_poll_runs_one_spark_job(spark, tmp_path):
    src = str(tmp_path / "in")
    n = _write_tree(src)
    cfg = RestructureConfig(
        target_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        format="csv",
        worker=WorkerConfig(minimum_file_age_s=0),
    )
    os.makedirs(cfg.state_dir)
    first = run_avro_restructure_job(spark, src, cfg)
    assert first["records_written"] == n and first["files_processed"] == 6

    jobs, rerun = _jobs_in_group(
        spark, "idle-poll", lambda: run_avro_restructure_job(spark, src, cfg)
    )
    assert rerun["files_processed"] == 0 and rerun["records_written"] == 0
    assert jobs == 1, f"idle poll ran {jobs} Spark jobs"

    jobs, state = _jobs_in_group(
        spark, "read-offsets", lambda: read_offsets(spark, cfg.state_dir)
    )
    assert jobs == 0, f"read_offsets ran {jobs} Spark jobs"
    assert state.schema.simpleString() == (
        "struct<topic:string,partition:int,offset_from:bigint,"
        "offset_to:bigint,last_processed:timestamp>"
    )

    new = spark.createDataFrame([("budget_topic", 0, 12, 15, None)], STATE_SCHEMA)
    jobs, _ = _jobs_in_group(
        spark, "commit", lambda: commit_offsets(spark, cfg.state_dir, new)
    )
    assert jobs <= 2, f"commit_offsets ran {jobs} Spark jobs"
    got = {
        (r["partition"], r["offset_from"], r["offset_to"])
        for r in read_offsets(spark, cfg.state_dir).collect()
    }
    assert got == {(0, 0, 15), (1, 0, 11)}


def test_state_read_widens_legacy_partition_type(spark, tmp_path):
    """A version written before commits were cast to STATE_SCHEMA may carry
    a BIGINT partition (from a long-typed record table); the schema-pinned
    read still loads it, as INT."""
    state_dir = str(tmp_path / "state")
    os.makedirs(os.path.join(state_dir, "offsets"))
    spark.createDataFrame(
        [("t", 3, 0, 9, None)],
        "topic string, partition bigint, offset_from long, offset_to long, "
        "last_processed timestamp",
    ).write.parquet(os.path.join(state_dir, "offsets", "v00000001"))
    with open(os.path.join(state_dir, "offsets.CURRENT"), "w") as fh:
        fh.write("v00000001")
    rows = read_offsets(spark, state_dir).collect()
    assert [tuple(r) for r in rows] == [("t", 3, 0, 9, None)]
    assert committed_intervals(spark, state_dir) == [("t", 3, 0, 9, None)]
