"""Two-phase-commit behavior of the custom Python DataSource writer
(sources/readers.py _JsonLinesSink): tasks stage attempt-unique
dot-files, commit() renames one winner per partition to its final
part-*.json name and sweeps zombie attempts, a failing partition
aborts the job leaving NO manifest and NO shards — readers never
observe a partial write, with or without manifest gating.
"""

from __future__ import annotations

import json
import os

import pytest

from hive_task_spark.scratch import fresh_scratch
from hive_task_spark.sources.readers import (
    _JsonLinesSink,
    _JsonLinesWriter,
    _JsonRowCount,
)


class _FailingSink(_JsonLinesSink):
    """Same sink, but every write() raises — models a partition-level
    egress failure (remote endpoint down, quota hit)."""

    @classmethod
    def name(cls):
        return "pyjsonlsink_failing"

    def writer(self, schema, overwrite):
        return _FailingWriter(self.options, schema)


class _FailingWriter(_JsonLinesWriter):
    def write(self, iterator):
        raise RuntimeError("simulated partition egress failure")


def test_successful_write_publishes_manifest(spark):
    path = fresh_scratch("pysink_commit_ok")
    spark.dataSource.register(_JsonLinesSink)
    df = spark.range(100).selectExpr("id", "id * 3 AS trip")
    df.repartition(4).write.format("pyjsonlsink").option("path", path).mode(
        "append"
    ).save()
    with open(os.path.join(path, "_MANIFEST")) as fh:
        manifest = json.load(fh)
    assert manifest["rows"] == 100
    assert manifest["parts"] == [0, 1, 2, 3]
    # commit() renamed every winner and swept all staged files
    names = sorted(os.listdir(path))
    assert [n for n in names if n.endswith(".staged")] == []
    assert [n for n in names if n.startswith("part-")] == [
        f"part-{i:05d}.json" for i in range(4)
    ]


def test_failed_partition_aborts_without_manifest(spark):
    path = fresh_scratch("pysink_abort")
    spark.dataSource.register(_FailingSink)
    df = spark.range(100).selectExpr("id", "id * 3 AS trip")
    with pytest.raises(Exception, match="simulated partition egress failure"):
        df.repartition(4).write.format("pyjsonlsink_failing").option(
            "path", path
        ).mode("append").save()
    # the two-phase contract: no commit manifest after an aborted job,
    # and no shards either — a reader that globs part-*.json without
    # checking the manifest still sees nothing from the aborted job
    assert not os.path.exists(os.path.join(path, "_MANIFEST"))
    leftovers = [
        n
        for n in os.listdir(path)
        if n.startswith("part-") or n.endswith(".staged")
    ]
    assert leftovers == []


def test_commit_publishes_winner_and_sweeps_zombie_attempt(spark):
    """Driver-side commit() contract, exercised directly: two staged
    attempt files exist for partition 0 (a zombie retry lost the
    race); the commit message names the winner. Only the winner's
    bytes are published; the zombie's staged file is swept."""
    path = fresh_scratch("pysink_zombie")
    winner = os.path.join(path, ".part-00000-7.json.staged")
    zombie = os.path.join(path, ".part-00000-3.json.staged")
    with open(winner, "w") as fh:
        fh.write('{"id": 1}\n')
    with open(zombie, "w") as fh:
        fh.write('{"id": 999}\n')

    class _Opts(dict):
        pass

    class _Schema:
        @staticmethod
        def fieldNames():
            return ["id"]

    writer = _JsonLinesWriter(_Opts(path=path), _Schema())
    writer.commit([_JsonRowCount(0, 1, winner)])
    with open(os.path.join(path, "part-00000.json")) as fh:
        assert fh.read() == '{"id": 1}\n'
    assert not os.path.exists(zombie) and not os.path.exists(winner)
    with open(os.path.join(path, "_MANIFEST")) as fh:
        assert json.load(fh) == {"parts": [0], "rows": 1}


class _FakeSchema:
    @staticmethod
    def fieldNames():
        return ["i", "v"]


def _stream_writer(path):
    from hive_task_spark.streaming.stream_queries import (
        _JsonLinesStreamWriter,
    )

    return _JsonLinesStreamWriter({"path": path}, _FakeSchema())


def test_stream_sink_epoch_commit_publishes_and_logs(tmp_path):
    """Per-epoch two-phase commit (streaming sink): each commit renames
    its winners to (batchId, partitionId)-keyed finals and appends one
    _COMMITLOG line; a zombie attempt's staged file is swept."""
    from hive_task_spark.streaming.stream_queries import _EpochShardMsg

    path = str(tmp_path)
    w = _stream_writer(path)
    for batch, attempt in ((0, 1), (1, 2)):
        staged = os.path.join(path, f".part-00000-{attempt}.json.staged")
        with open(staged, "w") as fh:
            fh.write('{"i": %d, "v": 0}\n' % batch)
        zombie = os.path.join(path, f".part-00000-{attempt + 90}.json.staged")
        with open(zombie, "w") as fh:
            fh.write('{"i": 999, "v": 9}\n')
        w.commit([_EpochShardMsg(0, 1, staged)], batch)
        assert not os.path.exists(zombie)
    finals = sorted(
        n for n in os.listdir(path) if n.startswith("part-")
    )
    assert finals == ["part-00000-00000.json", "part-00001-00000.json"]
    with open(os.path.join(path, "part-00001-00000.json")) as fh:
        assert fh.read() == '{"i": 1, "v": 0}\n'
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        log = [json.loads(line) for line in fh]
    assert log == [
        {"batch": 0, "parts": [0], "rows": 1},
        {"batch": 1, "parts": [0], "rows": 1},
    ]


def test_stream_sink_replayed_commit_is_log_idempotent(tmp_path):
    """An epoch replayed after a crash between sink-commit and
    checkpoint advance re-enters commit() with the same batchId: the
    renames are idempotent (targets keyed by batchId/partitionId) and
    the _COMMITLOG must be too — one line per epoch, never two."""
    from hive_task_spark.streaming.stream_queries import _EpochShardMsg

    path = str(tmp_path)
    w = _stream_writer(path)
    staged = os.path.join(path, ".part-00000-1.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 0, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, staged)], 0)
    # replay: the engine re-runs the epoch, tasks re-stage, commit(0)
    # fires again with a fresh attempt's message
    restaged = os.path.join(path, ".part-00000-2.json.staged")
    with open(restaged, "w") as fh:
        fh.write('{"i": 0, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, restaged)], 0)
    finals = sorted(n for n in os.listdir(path) if n.startswith("part-"))
    assert finals == ["part-00000-00000.json"]
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        log = [json.loads(line) for line in fh if line.strip()]
    assert log == [{"batch": 0, "parts": [0], "rows": 1}]


def test_batch_writer_refuses_foreign_directory(tmp_path):
    """The batch sink owns its directory per job (abort/commit sweep
    EVERY part-* / staged file): write() and commit() must fail fast
    when the target already holds committed output — a prior job's
    part-* final or _MANIFEST — instead of silently destroying it."""

    class _Opts(dict):
        pass

    class _Schema:
        @staticmethod
        def fieldNames():
            return ["id"]

    path = str(tmp_path)
    foreign = os.path.join(path, "part-00000.json")
    with open(foreign, "w") as fh:
        fh.write('{"id": 42}\n')
    w = _JsonLinesWriter(_Opts(path=path), _Schema())
    with pytest.raises(RuntimeError, match="owns its directory per job"):
        w.commit([])
    # the foreign shard survived untouched
    with open(foreign) as fh:
        assert fh.read() == '{"id": 42}\n'
    # a bare _MANIFEST (no shards) trips the same guard
    os.remove(foreign)
    with open(os.path.join(path, "_MANIFEST"), "w") as fh:
        fh.write("{}")
    with pytest.raises(RuntimeError, match="owns its directory per job"):
        w.commit([])


def test_stream_sink_abort_sweeps_staged_publishes_nothing(tmp_path):
    path = str(tmp_path)
    w = _stream_writer(path)
    staged = os.path.join(path, ".part-00002-5.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 7, "v": 1}\n')
    w.abort([None], 3)
    assert os.listdir(path) == []  # no finals, no staged, no commit log


def test_arrow_writer_publishes_parquet_shards(spark):
    """The Arrow-native sink shares the two-phase commit machinery:
    parquet finals + manifest on success, no staged leftovers."""
    from hive_task_spark.sources.readers import _ArrowParquetSink

    path = fresh_scratch("pysink_arrow_ok")
    spark.dataSource.register(_ArrowParquetSink)
    df = spark.range(100).selectExpr("id", "id * 3 AS trip")
    df.repartition(4).write.format("pyarrowparquetsink").option(
        "path", path
    ).mode("append").save()
    with open(os.path.join(path, "_MANIFEST")) as fh:
        manifest = json.load(fh)
    assert manifest["rows"] == 100 and manifest["parts"] == [0, 1, 2, 3]
    names = sorted(os.listdir(path))
    assert [n for n in names if n.endswith(".staged")] == []
    assert [n for n in names if n.startswith("part-")] == [
        f"part-{i:05d}.parquet" for i in range(4)
    ]
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert back.selectExpr("sum(trip)").first()[0] == sum(3 * i for i in range(100))


def test_stream_sink_commit_survives_truncated_log_tail(tmp_path):
    """ADVICE r11 (medium): the crash window the idempotency check
    targets can itself truncate the _COMMITLOG's last line mid-append.
    A partial-JSON tail must read as "not logged" (commit proceeds,
    worst case one duplicate line) — never raise and wedge the stream."""
    from hive_task_spark.streaming.stream_queries import _EpochShardMsg

    path = str(tmp_path)
    w = _stream_writer(path)
    with open(os.path.join(path, "_COMMITLOG"), "w") as fh:
        fh.write('{"batch": 0, "parts": [0], "rows": 1}\n')
        fh.write('{"batch": 1, "par')  # crash mid-append, no newline
    # replaying batch 0 still skips: the last PARSABLE line wins
    staged = os.path.join(path, ".part-00000-7.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 0, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, staged)], 0)
    # batch 1 (whose record was the torn tail) re-commits cleanly
    restaged = os.path.join(path, ".part-00000-8.json.staged")
    with open(restaged, "w") as fh:
        fh.write('{"i": 1, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, restaged)], 1)
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        parsable = []
        for line in fh:
            try:
                parsable.append(json.loads(line))
            except ValueError:
                continue
    assert parsable == [
        {"batch": 0, "parts": [0], "rows": 1},
        {"batch": 1, "parts": [0], "rows": 1},
    ]


def test_stream_sink_tail_read_grows_past_one_chunk(tmp_path):
    """A commit record bigger than the 4096-byte tail chunk (parts
    list of a few hundred partition ids) must still be found: the
    tail read grows backwards to a newline boundary instead of
    assuming the last record fits in one chunk."""
    from hive_task_spark.streaming.stream_queries import (
        _EpochShardMsg,
        _JsonLinesStreamWriter,
    )

    path = str(tmp_path)
    w = _stream_writer(path)
    big = {"batch": 5, "parts": list(range(2000)), "rows": 2000}
    assert len(json.dumps(big)) > 4096
    with open(os.path.join(path, "_COMMITLOG"), "w") as fh:
        fh.write(json.dumps({"batch": 4, "parts": [0], "rows": 1}) + "\n")
        fh.write(json.dumps(big) + "\n")
    assert _JsonLinesStreamWriter._log_tail_state(
        os.path.join(path, "_COMMITLOG")
    ) == (5, False)
    # replay of the oversized epoch is still idempotent
    staged = os.path.join(path, ".part-00000-9.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 5, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, staged)], 5)
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        assert sum(1 for line in fh if line.strip()) == 2  # no dup


def test_stream_sink_torn_tail_terminated_even_on_idempotent_replay(tmp_path):
    """ADVICE r12 follow-through: the first post-restart commit reads
    the log tail ONCE; if that commit is an idempotent replay
    (early-return), the torn fragment must STILL be terminated then —
    otherwise the next epoch's append would merge into the fragment
    and corrupt its own record."""
    from hive_task_spark.streaming.stream_queries import _EpochShardMsg

    path = str(tmp_path)
    w = _stream_writer(path)
    with open(os.path.join(path, "_COMMITLOG"), "w") as fh:
        fh.write('{"batch": 0, "parts": [0], "rows": 1}\n')
        fh.write('{"batch": 1, "par')  # crash mid-append of batch 1
    # replay of batch 0 early-returns (last parsable = 0 >= 0) ...
    staged = os.path.join(path, ".part-00000-7.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 0, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, staged)], 0)
    # ... and batch 1's re-commit (now via the in-memory cache, no
    # tail re-read) must land as a CLEAN parsable record
    restaged = os.path.join(path, ".part-00000-8.json.staged")
    with open(restaged, "w") as fh:
        fh.write('{"i": 1, "v": 0}\n')
    w.commit([_EpochShardMsg(0, 1, restaged)], 1)
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        lines = [line.rstrip("\n") for line in fh if line.strip()]
    assert json.loads(lines[-1]) == {"batch": 1, "parts": [0], "rows": 1}
    # no .staged litter survives a replayed commit
    assert [n for n in os.listdir(path) if n.endswith(".staged")] == []


def test_stream_sink_steady_state_commit_is_zero_log_io(tmp_path, monkeypatch):
    """VERDICT r12 item 3: after the first commit, the idempotency
    check must come from the in-memory cache — commit() may open the
    log only to append, never to re-read/re-stat the tail."""
    from hive_task_spark.streaming import stream_queries as sq

    path = str(tmp_path)
    w = _stream_writer(path)

    def _must_not_read(log):
        raise AssertionError("steady-state commit re-read the log tail")

    staged = os.path.join(path, ".part-00000-1.json.staged")
    with open(staged, "w") as fh:
        fh.write('{"i": 0, "v": 0}\n')
    w.commit([sq._EpochShardMsg(0, 1, staged)], 0)  # cold: reads tail
    monkeypatch.setattr(
        type(w), "_log_tail_state", staticmethod(_must_not_read)
    )
    for b in (1, 2):
        s = os.path.join(path, f".part-00000-{b + 1}.json.staged")
        with open(s, "w") as fh:
            fh.write('{"i": 1, "v": 0}\n')
        w.commit([sq._EpochShardMsg(0, 1, s)], b)
    with open(os.path.join(path, "_COMMITLOG")) as fh:
        assert [json.loads(line)["batch"] for line in fh] == [0, 1, 2]


def test_arrow_writer_refuses_foreign_directory_task_side(tmp_path):
    """ADVICE r11 (low): _ArrowParquetWriter.write() must run the same
    executor-side owns-the-dir fail-fast as the JSON writer — not only
    the driver-side commit() check — so a foreign dir's parquet finals
    are never exposed to the abort sweep."""
    from hive_task_spark.sources.readers import _ArrowParquetWriter

    class _Schema:
        @staticmethod
        def fieldNames():
            return ["id"]

    path = str(tmp_path)
    foreign = os.path.join(path, "part-00000.parquet")
    with open(foreign, "wb") as fh:
        fh.write(b"PAR1")
    w = _ArrowParquetWriter({"path": path}, _Schema())
    with pytest.raises(RuntimeError, match="owns its directory per job"):
        w.write(iter([]))
    with open(foreign, "rb") as fh:
        assert fh.read() == b"PAR1"  # untouched


def test_ttl_kernel_tracks_max_at_ns_grain_across_chunks():
    """Review r13: applyInPandasWithState chunks one group into
    multiple pdfs at the Arrow batch size; two chunk maxima inside the
    SAME millisecond must still resolve to the true (microsecond) max
    for last_seen — an ms-grain compare kept the stale string."""
    import pandas as pd

    from hive_task_spark.streaming.stream_queries import _ttl_evict_per_user

    class _FakeState:
        exists = False
        hasTimedOut = False

        def __init__(self):
            self.updated = None
            self.timeout = None

        def update(self, v):
            self.updated = v

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    st = _FakeState()
    c1 = pd.DataFrame({"ts": [pd.Timestamp("2024-01-05 12:00:00.000300")]})
    c2 = pd.DataFrame({"ts": [pd.Timestamp("2024-01-05 12:00:00.000500")]})
    list(_ttl_evict_per_user((7,), iter([c1, c2]), st))
    n, last_ns, last_seen = st.updated
    assert n == 2
    assert last_seen == "2024-01-05 12:00:00.000500"
    assert st.timeout == last_ns // 10**6 + 86_400_000
