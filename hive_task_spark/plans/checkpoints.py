"""Checkpoint-stats instrumentation — closes the PLANS.md blind spot.

Queries that materialize shared subtrees via ``localCheckpoint``
(minhash, triangle, kcore, kmeans, louvain, …) execute their build
stages eagerly at plan-construction time, so the recorded final-plan
audit cannot see them. Worse, the checkpointed ``LogicalRDD`` keeps
the BUILD plan's ``sizeInBytes`` ESTIMATE: round 7 measured a kernel
whose checkpoint advertised ~1.5 MB for 1.2M edge rows (~1.25 B/row),
which flipped every downstream AQE join to broadcasting the edge list
— kcore went 3.6 s -> 16.3 s and three graph ops OOMed at sf0.1.

This module intercepts ``DataFrame.localCheckpoint`` for the duration
of a ``with record_checkpoints() as recs:`` block and records, per
checkpoint: the materialized DataFrame, its actual row count, the
post-checkpoint logical-plan size estimate (what AQE's join planning
will see downstream), a summary of the pre-checkpoint build plan, and
whether ``checkpoint_conservative`` made it. ``plans.audit`` uses it to
publish build-segment evidence in PLANS.md; ``tests/test_plans.py``
builds every registered batch query once under it and enforces the
class-wide invariant on every checkpoint that walk records: no
checkpointed intermediate may advertise broadcast-bait stats
(< _MIN_BYTES_PER_ROW per actual row) once it has real volume.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterator

try:  # Spark 4: concrete class lives in sql.classic
    from pyspark.sql.classic.dataframe import DataFrame as _DF
except ImportError:  # pragma: no cover - older Spark layout
    from pyspark.sql import DataFrame as _DF

# The loosest defensible estimate: every materialized row carries at
# least one 8-byte word. The r7 buggy kernel sat at ~1.25 B/row; any
# honest estimate (or the unknown-stats default, which is huge) clears
# this by an order of magnitude.
_MIN_BYTES_PER_ROW = 8


@dataclass
class CheckpointRecord:
    source_plan: str  # pre-checkpoint optimized plan (build segment)
    checkpointed: object  # the materialized DataFrame
    conservative: bool = False  # made by checkpoint_conservative

    _rows: int | None = None
    _stats: int | None = None

    @property
    def rows(self) -> int:
        if self._rows is None:
            self._rows = self.checkpointed.count()
        return self._rows

    @property
    def stats_bytes(self) -> int:
        """What downstream join planning sees: the checkpointed
        logical plan's sizeInBytes estimate."""
        if self._stats is None:
            qe = self.checkpointed._jdf.queryExecution()
            self._stats = int(qe.optimizedPlan().stats().sizeInBytes())
        return self._stats

    def build_summary(self) -> dict[str, int]:
        p = self.source_plan
        return {
            "exchanges": len(re.findall(r"\bExchange\b", p)),
            "joins": len(re.findall(r"\bJoin\b", p)),
            "aggregates": len(re.findall(r"\bAggregate\b", p)),
        }


# Captured at import so checkpoint_conservative's INTERNAL localCheckpoint
# bypasses the record_checkpoints patching below (the audit must record the
# rewrapped DataFrame — the one downstream planning actually sees — not the
# intermediate whose understated origin stats the rewrap exists to discard).
_ORIG_LOCAL_CHECKPOINT = _DF.localCheckpoint

# Active audit sink (set by record_checkpoints). checkpoint_conservative
# appends its FINAL rewrapped record here so the class-wide stats guards in
# tests/test_plans.py see exactly what AQE sees.
_ACTIVE_RECORDS: list["CheckpointRecord"] | None = None


def checkpoint_conservative(df):
    """``localCheckpoint`` that DISCARDS the build plan's size estimate.

    ``Dataset.localCheckpoint`` copies the pre-checkpoint optimized plan's
    ``sizeInBytes`` estimate into the resulting ``LogicalRDD``
    (``originStats``) — which is exactly the r7 broadcast-bait mechanism
    when the build plan understates (the basket-explode edge kernel
    advertises ~1.25 B/row because Generate/explode does not re-inflate an
    Aggregate's shrunken row estimate; measured 1.49 MB for 1.2M edges at
    sf0.1). This helper checkpoints, then re-wraps the SAME materialized
    RDD in a fresh ``LogicalRDD`` with no origin stats, so downstream
    planning sees the unknown-stats default (``spark.sql.defaultSizeInBytes``
    = Long.MaxValue — conservative: never invites a broadcast). Use it for
    corpus-scaled intermediates whose consumers must stay shuffle joins at
    100 TB; genuinely small intermediates should keep plain
    ``localCheckpoint`` so an honest small estimate can still broadcast.

    The rewrap is plan-level only: no second materialization, no extra
    job; the returned DataFrame reads the checkpointed partitions exactly
    like the direct handle (verified in tests/test_plans.py)."""
    try:
        src = (
            df._jdf.queryExecution().optimizedPlan().toString()
            if _ACTIVE_RECORDS is not None
            else ""
        )
    except Exception:  # never let instrumentation break the query
        src = ""
    cp = _ORIG_LOCAL_CHECKPOINT(df)
    jdf = cp._jdf
    spark = df.sparkSession
    new_jdf = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    out = _DF(new_jdf, spark)
    if _ACTIVE_RECORDS is not None:
        _ACTIVE_RECORDS.append(
            CheckpointRecord(source_plan=src, checkpointed=out, conservative=True)
        )
    return out


@contextmanager
def record_checkpoints() -> Iterator[list[CheckpointRecord]]:
    """Intercept every DataFrame.localCheckpoint in the block (and every
    checkpoint_conservative, via the module-level sink)."""
    global _ACTIVE_RECORDS
    records: list[CheckpointRecord] = []
    orig = _DF.localCheckpoint

    def patched(self, *args, **kwargs):
        try:
            src = self._jdf.queryExecution().optimizedPlan().toString()
        except Exception:  # never let instrumentation break the query
            src = ""
        out = orig(self, *args, **kwargs)
        records.append(CheckpointRecord(source_plan=src, checkpointed=out))
        return out

    _DF.localCheckpoint = patched
    prev_sink = _ACTIVE_RECORDS
    _ACTIVE_RECORDS = records
    try:
        yield records
    finally:
        _DF.localCheckpoint = orig
        _ACTIVE_RECORDS = prev_sink


def understated_records(
    records: list[CheckpointRecord], min_rows: int = 1000
) -> list[str]:
    """The class-wide invariant: every checkpointed intermediate with
    >= min_rows actual rows must advertise >= _MIN_BYTES_PER_ROW per
    row, or downstream AQE will treat a big relation as broadcastable.
    Returns human-readable violations (empty = healthy)."""
    bad = []
    for i, rec in enumerate(records):
        if rec.rows < min_rows:
            continue
        if rec.stats_bytes < rec.rows * _MIN_BYTES_PER_ROW:
            bad.append(
                f"checkpoint #{i}: {rec.rows} rows but stats "
                f"{rec.stats_bytes} B ({rec.stats_bytes / rec.rows:.2f} "
                f"B/row) — broadcast bait"
            )
    return bad


# The loosest defensible UPPER bound: no honest row estimate is a
# megabyte wide on these tables. An estimate above this doesn't risk
# the r7 broadcast-bait failure (that needs UNDERstatement) but can
# SUPPRESS a legitimate downstream broadcast of a genuinely small
# intermediate (VERDICT r8 "what's wrong" #1).
_MAX_BYTES_PER_ROW = 1_000_000


def overstated_records(records: list[CheckpointRecord]) -> list[str]:
    """The mirror invariant: a checkpointed intermediate must not
    advertise a grossly INFLATED estimate (> _MAX_BYTES_PER_ROW per
    actual row), which would stop AQE from broadcasting a genuinely
    small relation downstream. Returns human-readable violations.

    ``checkpoint_conservative`` records are skipped: their Long.MaxValue
    estimate is that helper's documented purpose. Waivers
    (tests/test_plans.py _OVERSTATED_WAIVED) are allowed when the
    inflated estimate decides no join: every broadcast the query needs
    downstream is written as an explicit ``F.broadcast``/hint, immune to
    the estimate, and any join left to AQE is between relations whose
    true size scales with the corpus (nodes, candidate pairs, surviving
    edges), where the no-broadcast default the inflation forces is the
    100 TB-correct plan anyway. Iterative BSP loops
    (kcore, louvain) inherit multiplied join estimates through each
    round's checkpoint by construction; there is no public
    stats-injection API to correct them.
    """
    bad = []
    for i, rec in enumerate(records):
        if rec.conservative or rec.rows == 0:
            continue
        if rec.stats_bytes > rec.rows * _MAX_BYTES_PER_ROW:
            bad.append(
                f"checkpoint #{i}: {rec.rows} rows but stats "
                f"{rec.stats_bytes} B ({rec.stats_bytes / rec.rows:.1f} "
                f"B/row) — inflated estimate may suppress a legitimate "
                f"downstream broadcast"
            )
    return bad
