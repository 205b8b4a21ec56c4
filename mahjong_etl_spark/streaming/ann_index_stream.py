"""Streaming maintenance and admission for the persisted indexes: one
micro-batch lifecycle, six per-family steps.

The batch plane (operators/similarity.py, operators/minhash_index.py)
trains an index's frozen components — IVF centroids, PQ codebooks,
IVFADC centroids + residual codebooks, MinHash banding geometry — and
materializes its rows once per corpus snapshot.  The streams in this
module keep those rows current between snapshot rebuilds, which is
the production shape for a growing corpus: re-assigning the full
corpus per arrival batch (or retraining) is exactly the cost an index
exists to avoid.

ONE LIFECYCLE (``_run_index_stream``).  Every stream binds its
checkpoint to the index epoch and mints its lineage once, starts the
``foreachBatch`` writer once, and then runs each micro-batch the same
way:

1. the family STEP encodes or decides the batch, persisting what its
   publishes and its drift row share (``_Batch.keep``);
2. the rebuild fence re-verifies the bound epoch (``_check_epoch``)
   BEFORE the first destination mutation;
3. every publish the step lists — (marker suffix, tables,
   ``part_col``) — goes through ``streaming/etl_stream.py::
   publish_batch``, the one copy of the effective-exactly-once
   contract (marker short-circuit, staged erase-before-republish,
   marker after all tables).  Multi-table steps publish under several
   batch-keyed markers (``{lineage}-{batch}`` plus ``-bands``,
   ``-sh``, ``-vec``, ``-codes``, ``-adm``) because the tables
   partition by different columns; each marker replays idempotently
   on its own and the stream never advances past a batch whose later
   publish failed;
4. the step's DRIFT row lands in ``{index}/_drift/rows/`` AFTER the
   last publish — the ledger is telemetry, not part of the
   exactly-once contract, so a crash between publish and append loses
   one ledger row, never an index row, and a replay rewrites the same
   (lineage, batch)-named file;
5. everything the step persisted is unpersisted in ``finally``, so a
   fence refusal or a failed publish never leaks cached relations
   across a crash/retry loop.

THE STEPS.  ``run_ivf_maintenance_stream`` assigns arrivals to the
frozen centroids and appends ``postings`` (``cluster=``);
``run_pq_maintenance_stream`` PQ-encodes against the frozen codebooks
into ``codes`` (``shard=``); ``run_ivfpq_maintenance_stream`` encodes
IVFADC residuals into ``codes`` (``cluster=``) plus the optional raw
``vectors``; ``run_minhash_maintenance_stream`` signs and bands
documents into ``bands`` (``band=``) plus the optional ``shingles``.
The two admission gates — ``run_neardup_admission_stream`` (MinHash)
and ``run_semantic_admission_stream`` (IVFADC) — collapse exact
in-batch copies, probe the index, decide each arrival, append the
admitted ones (the gates are self-maintaining) and record every
decision in ``admissions`` (``gate=admit/quarantine``).

Because the components are FROZEN between rebuilds, encoding is
deterministic and a maintained index is BIT-IDENTICAL to a batch
``write_*_index`` over the union corpus with the same components —
pinned per family by tests/test_ann_index_stream.py and
tests/test_minhash_index.py.

Rebuild fencing: replay idempotence assumes frozen components — if a
``write_*_index`` rebuilds IN PLACE while a crashed (unmarked) batch
is pending in the checkpoint, a restart would re-encode that batch
against the NEW components and append ids the rebuild already
indexed.  Every rebuild therefore stamps a fresh random
``{index}/_index_epoch``; a stream binds its checkpoint to the epoch
it first ran against (``{checkpoint}/_index_epoch_bound``), REFUSES
to start when they differ, and re-checks before every publish.

Drift: one ledger row per batch against the build-time baseline in
``{index}/_drift/baseline.json`` — assignment residual and top-cell
share (IVF), reconstruction error (PQ; IVFADC watches both axes),
exact-duplicate rate (MinHash), admission flag rate (the gates; the
semantic gate rates against its own trailing median).  Past the
thresholds below a row carries ``rebuild_recommended: true``, so the
retrain cadence is data-driven instead of calendar-driven.

Scale shape: per batch, map-side encode passes over the batch's rows
and batch-sized aggregates for the drift row (a handful of collected
scalars); the index directory is the only state.  Small
files accumulate at one per (batch, partition); ``compact_postings``
(the manifest-journaled snapshot swap of plans/compaction.py) is the
between-rebuilds answer, ``compact_recommended`` its signal, and
``forget_from_index`` the derived-store half of a deletion request.
"""

from __future__ import annotations

import json
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import drop, snapshot_cache
from .etl_stream import (
    _lineage_id,
    _meta_fs,
    publish_batch,
    start_foreach_batch,
)

# Rebuild-recommended thresholds.  Residual ratio: mean distance of a
# batch's vectors to their nearest frozen centroid, over the build-time
# corpus mean — 1.5 means arrivals sit 50% farther from the codebook
# than the data it was trained on (the standard IVF drift smell: cells
# stop being tight).  Top-cell share: one cell absorbing most of a
# batch means the codebook has no resolution where the new mass is.
# Batches smaller than DRIFT_MIN_BATCH are recorded but never flagged
# (a 3-vector batch's mean is noise, not drift).
DRIFT_RESIDUAL_RATIO = 1.5
DRIFT_TOP_CELL_SHARE = 0.5
DRIFT_MIN_BATCH = 64

# MinHash band-index drift thresholds (r13).  What stales an LSH
# index is not vector drift but a BOILERPLATE SURGE: the arrival
# stream turning copy-heavy fills band buckets with identical
# signatures, pushing buckets toward BUCKET_CAP (where the query
# path's bounded fanout starts costing recall) and flipping the pair
# path's regime economics.  A batch flags when its exact-duplicate
# rate is BOTH material in absolute terms AND a multiple of the
# build-time corpus rate — either bar alone misfires (a 2x ratio on
# a 0.1% base is noise; a 25% rate on a 30% base is business as
# usual).
MINHASH_DRIFT_MIN_DUP_RATE = 0.2
MINHASH_DRIFT_DUP_RATE_RATIO = 2.0

# PQ drift threshold (r12).  PQ reconstruction error lives on the
# unit sphere, so it is BOUNDED — unlike the unbounded IVF assignment
# residual, a 1.5x ratio is nearly unreachable.  Calibration sweep on
# the sf0.01 corpus (books trained on the corpus itself): arrivals
# from the same distribution score ratio 1.000; structured
# out-of-distribution shifts score 1.06 (per-vector random sign
# patterns), 1.09 (alternating sign + offset), 1.33 (axis-aligned
# one-hot spikes) — 1.2 separates the regimes with margin on both
# sides.
PQ_DRIFT_RECON_RATIO = 1.2

DRIFT_SCHEMA = (
    "batch_id long, n long, cells_touched long, top_cell_share double, "
    "mean_residual double, baseline_residual double, "
    "residual_ratio double, recon_ratio double, "
    "rebuild_recommended boolean, ts_ms long"
)

# Landed index snapshots are immutable, and every sanctioned rebuild
# (the write_*_index functions, through mark_index_rebuilt) drops both
# fills below for its path, so a same-application rebuild is never
# encoded against stale components.  An out-of-band overwrite from
# ANOTHER process remains invisible to the cache but is caught by the
# epoch fence at the next stream start.
@snapshot_cache
def _index_array(spark: SparkSession, index_dir: str, artifact: str):
    """The ``centroids`` or ``codebooks`` ndarray of a persisted
    index, read once per (application, index)."""
    from ..operators.similarity import _read_ndarray

    return _read_ndarray(spark, f"{index_dir}/{artifact}")


@snapshot_cache
def _index_baseline(spark: SparkSession, index_dir: str) -> dict:
    """Build-time drift baseline (written by every ``write_*_index``
    rebuild); a legacy index without one gets an empty dict — drift
    rows then carry null ratios and never flag on a ratio."""
    fs = _meta_fs(spark, index_dir)
    p = f"{fs.root}/_drift/baseline.json"
    if fs.kind(p) != "file":
        return {}
    return json.loads(fs.read_bytes(p).decode())


def assign_batch(
    spark: SparkSession, vectors: DataFrame, index_dir: str
) -> DataFrame:
    """(cluster, vec_id) for a batch of (vec_id, embedding) rows,
    assigned against the persisted index's frozen centroids."""
    from ..operators.similarity import _assign_clusters, with_norm

    cents = _index_array(spark, index_dir, "centroids")
    return _assign_clusters(with_norm(vectors), cents).select(
        "cluster", "vec_id"
    )


def _bind_index_epoch(spark: SparkSession, index_dir: str, ckpt: str) -> str:
    """Fence the checkpoint to the index epoch (module docstring): the
    first run binds, every later run must match, a rebuilt index
    (fresh epoch) refuses loudly.  A legacy index without an epoch
    file gets one minted here so the fence covers it from now on.
    Returns the bound epoch so the live stream can re-verify it per
    batch (``_check_epoch``)."""
    ifs = _meta_fs(spark, index_dir)
    epoch_path = f"{ifs.root}/_index_epoch"
    if ifs.kind(epoch_path) != "file":
        import uuid

        ifs.write_bytes(epoch_path, uuid.uuid4().hex.encode())
    epoch = ifs.read_bytes(epoch_path).decode().strip()
    cfs = _meta_fs(spark, ckpt)
    bound_path = f"{cfs.root}/_index_epoch_bound"
    if cfs.kind(bound_path) != "file":
        cfs.mkdirs(cfs.root)
        cfs.write_bytes(bound_path, epoch.encode())
        return epoch
    bound = cfs.read_bytes(bound_path).decode().strip()
    if bound != epoch:
        raise RuntimeError(
            f"ann index maintenance: index {index_dir} was REBUILT "
            f"(epoch {epoch}) since this checkpoint last ran (bound "
            f"to {bound}).  A pending batch replayed against the new "
            f"centroids would duplicate vec_ids the rebuild already "
            f"indexed — restart with a fresh checkpoint (and re-drop "
            f"only vectors that arrived after the rebuild's corpus "
            f"snapshot)."
        )
    return epoch


def _check_epoch(spark: SparkSession, index_dir: str, bound: str) -> None:
    """Per-batch half of the rebuild fence (ADVICE r12): the start-time
    check alone cannot see a ``write_ivf_index`` rebuild that lands
    while the maintenance stream is LIVE in the same application —
    the rebuild's ``drop`` would make the very next micro-batch
    silently assign against the NEW centroids and append vec_ids the
    rebuild already indexed, the exact duplicate-append the fence
    exists to prevent, just via the live path instead of restart.
    One metadata-sized read per batch; raises before any destination
    mutation so the batch replays cleanly after a fresh checkpoint."""
    ifs = _meta_fs(spark, index_dir)
    epoch_path = f"{ifs.root}/_index_epoch"
    cur = (
        ifs.read_bytes(epoch_path).decode().strip()
        if ifs.kind(epoch_path) == "file"
        else None
    )
    if cur != bound:
        raise RuntimeError(
            f"ann index maintenance: index {index_dir} was REBUILT "
            f"(epoch {cur}) under a LIVE maintenance stream bound to "
            f"epoch {bound} — refusing to publish this batch.  "
            f"Restart the stream with a fresh checkpoint."
        )


def _ratio(value: float, base, n: int):
    """``value`` over its build-time ``base``; None for an empty batch
    or a missing/zero base (legacy index, dup-free build corpus)."""
    return (value / base) if (n and base and base > 0) else None


def _round6(x):
    return round(x, 6) if x is not None else None


def _drift_row(n: int, value: float, base, flag, **fields) -> dict:
    """One ledger row (``DRIFT_SCHEMA`` minus ``batch_id``/``ts_ms``,
    which ``_run_index_stream`` and ``_append_drift`` add): the batch's drift
    ``value`` (``mean_residual``), its build-time ``base``
    (``baseline_residual``) and their ratio.  ``flag(ratio)`` decides
    ``rebuild_recommended``; batches smaller than DRIFT_MIN_BATCH never
    flag.  ``fields`` sets the family-specific columns."""
    ratio = _ratio(value, base, n)
    return {
        "n": n,
        "cells_touched": None,
        "top_cell_share": None,
        "mean_residual": round(value, 6),
        "baseline_residual": base,
        "residual_ratio": _round6(ratio),
        "rebuild_recommended": bool(n >= DRIFT_MIN_BATCH and flag(ratio)),
        **fields,
    }


def _rate_drift_row(
    n: int,
    rate: float,
    base,
    min_rate: float = MINHASH_DRIFT_MIN_DUP_RATE,
    ratio_bar: float = MINHASH_DRIFT_DUP_RATE_RATIO,
) -> dict:
    """Drift row for a RATE (dup rate, admission flag rate) under the
    two-bar rule: flag when the rate is BOTH material in absolute terms
    AND a multiple of the base rate (either bar alone misfires; with no
    usable base the absolute bar decides alone)."""
    return _drift_row(
        n,
        rate,
        base,
        lambda _ratio: rate > min_rate
        and (base is None or base == 0 or rate > ratio_bar * base),
    )


def _ivf_drift_row(
    spark: SparkSession, ares: DataFrame, index_dir: str
) -> dict:
    """Drift row from a batch's (cluster, vec_id, res2) assignment:
    mean residual distance against the build-time residual, and the
    top-cell share against a bar RELATIVE to the build-time skew where
    known — a corpus whose own clustering is lopsided must not flag on
    arrivals drawn from its own distribution, only on arrivals
    measurably MORE concentrated than the codebook was trained for."""
    from ..operators.similarity import assignment_stats

    row = assignment_stats(ares)
    n = row.n or 0
    top_share = (row.max_cell / n) if n else 0.0
    base = _index_baseline(spark, index_dir)
    top_bar = max(
        DRIFT_TOP_CELL_SHARE, 2.0 * (base.get("top_cell_share") or 0.0)
    )
    return _drift_row(
        n,
        (row.sres / n) if n else 0.0,
        base.get("mean_residual"),
        lambda ratio: (ratio is not None and ratio > DRIFT_RESIDUAL_RATIO)
        or top_share > top_bar,
        cells_touched=row.cells if n else 0,
        top_cell_share=round(top_share, 6),
    )


def _flag_rate(decisions: DataFrame) -> tuple[int, float]:
    """(n, share of decisions NOT admitted) — the gates' drift value."""
    (row,) = decisions.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("admitted"), 0).otherwise(1)).alias("flagged"),
    ).collect()
    n = row.n or 0
    return n, ((row.flagged or 0) / n) if n else 0.0


# ledger retention: the rebuild decision reads recent batches, so the
# ledger keeps a bounded trailing window of per-batch row FILES.
# Pruning trims to MAX - SLACK once MAX is crossed (hysteresis): the
# prune pass must read every row's ts_ms to find the oldest (names are
# no longer arrival-ordered, r13), so it amortizes over SLACK batches
# instead of paying a full-ledger read per batch at the cap.
DRIFT_LEDGER_MAX_ROWS = 4096
DRIFT_LEDGER_PRUNE_SLACK = 256


def _append_drift(
    spark: SparkSession, index_dir: str, row: dict, lineage: str = "batch"
) -> None:
    """Record one ledger row as its OWN file under ``_drift/rows/``
    (ADVICE r12): one file per (lineage, batch) is write-once — no
    read-modify cycle for two driver processes to race — and lands
    via write-temp-then-move like the rest of the publish machinery,
    so a concurrent reader sees whole rows or nothing.

    The file is named ``{lineage}-{batch_id:012d}.json`` (r12 verdict
    item 3): the name carries NO wall-clock component, so a
    crash-replayed batch genuinely rewrites its SAME file — idempotent,
    the newest attempt wins, and ``rebuild_recommended`` can never
    double-count a replay (the previous name led with a millisecond
    stamp, so a replay landed a SECOND row for the same (lineage,
    batch)).  Arrival order across lineages (checkpoint restarts reset
    batch ids) is carried INSIDE the row as ``ts_ms``; the read path
    orders by it."""
    import time

    fs = _meta_fs(spark, index_dir)
    _migrate_drift_layout(fs)
    rows_dir = f"{fs.root}/_drift/rows"
    fs.mkdirs(rows_dir)
    row = {**row, "ts_ms": int(time.time() * 1000)}
    name = f"{lineage}-{int(row['batch_id']):012d}.json"
    tmp = f"{rows_dir}/.tmp-{name}"
    fs.write_bytes(tmp, (json.dumps(row) + "\n").encode())
    fs.move(tmp, f"{rows_dir}/{name}")
    # retention: once past the cap, prune the oldest rows by ts_ms
    # down to MAX - SLACK.  Concurrent pruners may race on the same
    # victim — deleting a file the other pruner already removed is a
    # no-op, never a lost LIVE row.
    files = _drift_row_files(fs)
    if len(files) > DRIFT_LEDGER_MAX_ROWS:
        stamped = []
        for p in sorted(files):
            try:
                r = json.loads(fs.read_bytes(p).decode())
                stamped.append(((r.get("ts_ms") or 0), p))
            except Exception:
                stamped.append((0, p))  # unreadable -> oldest
        stamped.sort(key=lambda t: t[0])
        keep = DRIFT_LEDGER_MAX_ROWS - DRIFT_LEDGER_PRUNE_SLACK
        for _, p in stamped[: max(0, len(stamped) - keep)]:
            try:
                fs.delete_file(p)
            except Exception:
                pass  # already pruned by a concurrent writer


def reset_drift_ledger(fs) -> None:
    """Clear the per-row drift ledger (every layout) at index REBUILD
    time (``mark_index_rebuilt``, r13 ADVICE): the ledger's rows
    describe the PRE-rebuild index, so ``rebuild_recommended``
    reporting a stale last-row verdict immediately after the rebuild
    that was supposed to address it is exactly the confusion a rebuild
    must clear.  The rebuild rewrites ``_drift/baseline.json`` right
    after, so the drift plane restarts from the fresh snapshot's
    reference with an empty history."""
    rows_dir = f"{fs.root}/_drift/rows"
    if fs.kind(rows_dir) == "dir":
        fs.delete_dir(rows_dir)
    legacy = f"{fs.root}/_drift/ledger.jsonl"
    if fs.kind(legacy) == "file":
        fs.delete_file(legacy)


def mark_index_rebuilt(spark: SparkSession, index_dir: str):
    """Rebuild bookkeeping shared by every ``write_*_index`` function,
    run as soon as a rebuild's rows have landed: the cached
    components and drift baseline are dropped, the pre-rebuild
    lineage's commit markers and drift ledger are cleared, and a fresh
    random ``_index_epoch`` fences every checkpoint bound to the old
    snapshot (module docstring).  Returns the index's metadata FS."""
    import uuid

    drop("_index_array", index_dir)
    drop("_index_baseline", index_dir)
    fs = _meta_fs(spark, index_dir)
    if fs.kind(f"{fs.root}/_batch_commits") is not None:
        fs.delete_dir(f"{fs.root}/_batch_commits")
    reset_drift_ledger(fs)
    fs.write_bytes(f"{fs.root}/_index_epoch", uuid.uuid4().hex.encode())
    return fs


def write_drift_baseline(fs, baseline: dict) -> None:
    """Record a rebuild's build-time drift reference
    (``_drift/baseline.json``), which the stream drift rows compare
    against."""
    fs.mkdirs(f"{fs.root}/_drift")
    fs.write_bytes(
        f"{fs.root}/_drift/baseline.json", json.dumps(baseline).encode()
    )


def _drift_row_files(fs) -> list[str]:
    rows_dir = f"{fs.root}/_drift/rows"
    if fs.kind(rows_dir) != "dir":
        return []
    return [
        p
        for p in fs.list_files(rows_dir)
        if not p.rsplit("/", 1)[1].startswith(".")
    ]


def _migrate_drift_layout(fs) -> None:
    """One-shot migration to the single r13 ledger layout (r12 verdict
    item 6): after a restart burst the old read path interleaved THREE
    layouts (pre-r12 single-file ``ledger.jsonl``, r12 wall-clock-
    prefixed row files, r13 idempotent row files) by path order, so
    "the last row" could be a stale legacy row.  Every read and append
    first folds the older layouts into the r13 one:

    - ``ledger.jsonl`` rows become ``legacy-{i:012d}.json`` with
      ``ts_ms = i`` — tiny synthetic stamps, so they order BEFORE every
      real wall-clock row, which is where pre-r12 history belongs;
    - r12 ``{ms:015d}-{lineage}-{batch}.json`` files are renamed to
      ``{lineage}-{batch:012d}.json`` with the stamp moved inside the
      row; a replay-duplicated (lineage, batch) pair collapses to its
      newest stamp — retroactively applying the r13 idempotence.

    Idempotent and crash-safe: target rows are rewritten
    deterministically via write-temp-then-move and each source is
    deleted only after its rows landed, so a crash mid-migration
    re-runs to the same result (a not-yet-deleted source just rewrites
    the same targets)."""
    drift = f"{fs.root}/_drift"
    rows_dir = f"{drift}/rows"

    def land(row: dict, name: str) -> None:
        tmp = f"{rows_dir}/.tmp-mig-{name}"
        fs.write_bytes(tmp, (json.dumps(row) + "\n").encode())
        fs.move(tmp, f"{rows_dir}/{name}")

    # Every per-file read/land/delete below is individually guarded:
    # TWO driver processes maintaining one index (the scenario the
    # per-file ledger exists for) may both enter this migration after
    # an upgrade, and the loser of any single-file race must SKIP
    # (the winner migrated it) rather than fail the caller's
    # micro-batch — the ledger is telemetry, never part of the
    # exactly-once contract (r13 review finding).
    legacy = f"{drift}/ledger.jsonl"
    if fs.kind(legacy) == "file":
        fs.mkdirs(rows_dir)
        try:
            lines = [
                ln
                for ln in fs.read_bytes(legacy).decode().splitlines()
                if ln.strip()
            ]
        except Exception:
            lines = []  # concurrent migrator finished it first
        for i, line in enumerate(lines):
            try:
                row = json.loads(line)
                row.setdefault("ts_ms", i)
                land(row, f"legacy-{i:012d}.json")
            except Exception:
                pass  # torn row / target landed concurrently
        try:
            fs.delete_file(legacy)
        except Exception:
            pass  # already deleted by the other migrator
    for p in _drift_row_files(fs):
        name = p.rsplit("/", 1)[1]
        stamp, _, rest = name.partition("-")
        if not (len(stamp) == 15 and stamp.isdigit() and rest):
            continue  # already r13-named ({lineage}-{batch:012d}.json)
        if rest.endswith(".json"):
            rest = rest[: -len(".json")]
        lineage, _, bid = rest.rpartition("-")
        if not (bid.isdigit() and lineage):
            continue
        try:
            row = json.loads(fs.read_bytes(p).decode())
        except Exception:
            continue  # concurrent migrator already moved this file
        row.setdefault("ts_ms", int(stamp))
        target = f"{rows_dir}/{lineage}-{int(bid):012d}.json"
        newest = True
        if fs.kind(target) == "file":
            try:
                cur = json.loads(fs.read_bytes(target).decode())
                newest = (row.get("ts_ms") or 0) >= (cur.get("ts_ms") or 0)
            except Exception:
                newest = True
        try:
            if newest:
                land(row, f"{lineage}-{int(bid):012d}.json")
            fs.delete_file(p)
        except Exception:
            pass  # lost the race; the winner's result stands


def _read_drift_rows(fs) -> list[dict]:
    """Every ledger row, oldest-first by the in-row arrival stamp
    (ties broken by file name — a single layout after migration, so
    the order can never interleave wrongly across layouts)."""
    _migrate_drift_layout(fs)
    rows: list[dict] = []
    for path in sorted(_drift_row_files(fs)):
        rows.extend(
            json.loads(line)
            for line in fs.read_bytes(path).decode().splitlines()
            if line.strip()
        )
    rows.sort(key=lambda r: (r.get("ts_ms") or 0))
    return rows


def read_drift(spark: SparkSession, index_dir: str) -> DataFrame:
    """The drift ledger as a DataFrame — plain SQL over index health
    (the same discipline as streaming/metrics.py::read_progress)."""
    fs = _meta_fs(spark, index_dir)
    _migrate_drift_layout(fs)
    paths = sorted(_drift_row_files(fs))
    if not paths:
        return spark.createDataFrame([], DRIFT_SCHEMA)
    return spark.read.schema(DRIFT_SCHEMA).json(paths)


def rebuild_recommended(spark: SparkSession, index_dir: str) -> dict:
    """Operator-facing summary: the newest ledger row's verdict plus
    how many of the trailing rows flagged — the CLI `index` face of
    the drift plane.  An index with no ledger reports False."""
    rows = _read_drift_rows(_meta_fs(spark, index_dir))
    if not rows:
        return {"rebuild_recommended": False, "batches": 0, "flagged": 0}
    flagged = sum(1 for r in rows if r.get("rebuild_recommended"))
    last = rows[-1]
    return {
        "rebuild_recommended": bool(last.get("rebuild_recommended")),
        "batches": len(rows),
        "flagged": flagged,
        "last": last,
    }


def compact_postings(
    spark: SparkSession,
    index_dir: str,
    target_file_bytes: int = 8 * 1024 * 1024,
) -> dict[str, int]:
    """Compact the maintained index's inverted lists between snapshot
    rebuilds — ``plans/compaction.py``'s snapshot-file swap applied to
    the ``cluster=`` layout (r10 verdict item 4: the measured curve —
    SCALE.md "postings small-file probe" — shows the served ANN query
    degrading ~linearly past ~1000 posting files, 0.92 s at 16 files →
    2.76 s at 4085 on sf0.1/local[32], so "the rebuild is the
    compaction" only holds for streams that rebuild before ~1k
    batches; a standing stream needs this).

    Inherits every safety property of ``compact_table``: the
    single-compactor lease (serializes against concurrent compactions
    of the same index), manifest-journaled crash-safe swap, and the
    in-flight-batch skip — a cluster partition holding files of an
    UNCOMMITTED maintenance batch is left alone, because that batch's
    crash-replay erases by filename prefix, which folding into
    anonymous files would break.  Committed batches never replay
    (marker short-circuit), so merging their files is safe.  The
    default target is postings-sized (16-byte rows), not fact-sized.
    """
    from ..plans.compaction import compact_table

    return compact_table(
        spark,
        index_dir,
        "postings",
        target_file_bytes=target_file_bytes,
        part_col="cluster",
    )


# The measured knee of the postings small-file curve (SCALE.md
# "postings small-file probe"): the served ANN query degrades
# ~linearly with file count — 0.92 s at 16 files vs 2.76 s at 4,085
# on sf0.1/local[32] — and the degradation is material past ~1k.
POSTINGS_FILE_KNEE = 1000


def compact_recommended(
    spark: SparkSession, index_dir: str, table: str = "postings"
) -> dict:
    """Operator-facing compaction signal — the twin of
    :func:`rebuild_recommended`, so "watch one command" covers both
    retrain (drift) and compaction (small files) (r11 verdict item 5).

    Counts the data files in each hive partition of the maintained
    rows table (``postings/cluster=`` for IVF, ``codes/shard=`` for
    PQ — one metadata listing, no data read) and flags once the TOTAL
    crosses the measured knee — the serve path reads every probed
    partition, so the total, not the max, drives the observed latency
    curve."""
    fs = _meta_fs(spark, f"{index_dir}/{table}")
    per: dict[str, int] = {}
    if fs.kind(fs.root) == "dir":
        for p in fs.list_files(fs.root, recursive=True):
            rel = p[len(fs.root):].lstrip("/")
            name = rel.rsplit("/", 1)[-1]
            if name.startswith(("_", ".")) or "=" not in rel.split("/")[0]:
                continue
            per[rel.split("/", 1)[0]] = per.get(rel.split("/", 1)[0], 0) + 1
    total = sum(per.values())
    return {
        "files": total,
        "partitions": len(per),
        "max_partition_files": max(per.values(), default=0),
        "knee": POSTINGS_FILE_KNEE,
        "compact_recommended": total > POSTINGS_FILE_KNEE,
    }


def forget_from_index(
    spark: SparkSession,
    index_dir: str,
    ids,
    kind: str | None = None,
    target_file_bytes: int = 8 * 1024 * 1024,
) -> dict:
    """Right-to-be-forgotten for the four persisted index families
    (r14): delete every row belonging to the ids from the index's
    maintained tables WITHOUT a rebuild — the derived-store half of
    the governance cascade (operators/governance.py scrubs the fact
    tables; a deletion request must also reach the stores DERIVED
    from the deleted content: MinHash bands and shingle sets encode
    the document's text, PQ codes encode the vector — leaving them
    behind is retention, not deletion).

    ``ids``: a one-column DataFrame (or a Python list) of doc_ids
    (minhash) / vec_ids (ANN families) — the bounded request list.
    ``kind`` is auto-detected from the index layout when omitted.

    Per family, the tables scrubbed (each via
    ``plans/compaction.py::forget_rows`` — the journaled snapshot
    swap, so crash/lease/in-flight-batch safety is ONE copy shared
    with compaction):

    - minhash: ``bands/band=`` postings, the ``shingles/shard=``
      verify relation, and the ``admissions/gate=`` decision rows
      whose ``doc_id`` is forgotten.  Decision rows of OTHER docs
      that carry a forgotten id as ``matched_id`` are kept: they
      record that some admission matched *something*, reference the
      id only (no content), and rewriting them would falsify the
      audit trail — the documented retention choice;
    - ivf: ``postings/cluster=`` (vec_id membership);
    - pq: ``codes/shard=`` (the quantized vector IS derived
      content);
    - ivfpq: ``codes/cluster=``, plus — when present — the
      ``vectors/shard=`` raw verify relation (the vector itself)
      and the semantic gate's ``admissions/gate=`` rows (same
      doc-own-rows / matched_id-kept policy as minhash).

    The index stays live throughout: centroids/codebooks/geometry
    are untouched (they are corpus-level aggregates, the same
    residual the batch forget leaves in any trained model), the
    epoch is NOT bumped (membership-only change — exactly what
    maintenance appends do), and a standing maintenance stream keeps
    appending.  Run it with the stream drained or re-run after:
    partitions holding an uncommitted batch are skipped-and-reported
    (``skipped_in_flight``), and a pending unmarked batch replaying
    after the forget re-lands whatever rows it carried (the
    point-in-time contract of ``forget_rows``).

    Returns the per-table reports plus ``kind``; idempotent."""
    from ..plans.compaction import forget_rows

    fs = _meta_fs(spark, index_dir)
    if kind is None:
        if fs.kind(f"{fs.root}/bands") == "dir":
            kind = "minhash"
        elif fs.kind(f"{fs.root}/codes") == "dir":
            kind = (
                "ivfpq"
                if fs.kind(f"{fs.root}/centroids") == "dir"
                else "pq"
            )
        elif fs.kind(f"{fs.root}/postings") == "dir":
            kind = "ivf"
        else:
            raise ValueError(
                f"forget_from_index: {index_dir} has no recognizable "
                f"index layout (bands/codes/postings)"
            )
    id_col = "doc_id" if kind == "minhash" else "vec_id"
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    tables = {
        "minhash": [("bands", "band"), ("shingles", "shard"), ("admissions", "gate")],
        "ivf": [("postings", "cluster")],
        "pq": [("codes", "shard")],
        # the optional raw-vector verify relation holds the vector
        # itself and the semantic gate's decision rows reference it —
        # both go with the codes (skipped when absent)
        "ivfpq": [
            ("codes", "cluster"),
            ("vectors", "shard"),
            ("admissions", "gate"),
        ],
    }[kind]
    report: dict = {"kind": kind, "tables": {}}
    for table, part_col in tables:
        if fs.kind(f"{fs.root}/{table}") != "dir":
            continue  # optional relation (bands-only index, no gate)
        report["tables"][table] = forget_rows(
            spark,
            index_dir,
            table,
            ids,
            id_col,
            part_col=part_col,
            target_file_bytes=target_file_bytes,
        )
    report["rows_deleted"] = sum(
        t["rows_deleted"] for t in report["tables"].values()
    )
    report["skipped_in_flight"] = {
        t: r["skipped_in_flight"]
        for t, r in report["tables"].items()
        if r["skipped_in_flight"]
    }
    return report


class _Batch(NamedTuple):
    """What a family step sees of one micro-batch.  ``keep(df)``
    persists ``df`` until the batch ends (the lifecycle unpersists in
    ``finally``) and returns it."""

    session: SparkSession
    df: DataFrame
    batch_id: int
    lineage: str
    keep: Callable[[DataFrame], DataFrame]


def _run_index_stream(
    spark: SparkSession,
    stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool,
    step: Callable[[_Batch], tuple],
):
    """Start the one index/admission micro-batch lifecycle (module
    docstring): epoch bind + lineage once, then per batch step → fence
    → publishes → drift row, unpersisting in ``finally``.

    ``step(batch)`` returns (publishes, drift): ``publishes`` lists
    (marker suffix, {table: DataFrame}, part_col) in publish order, and
    ``drift()`` returns the batch's ledger row (``_drift_row``) — it is
    called only after every publish landed."""
    bound_epoch = _bind_index_epoch(spark, index_dir, checkpoint_dir)
    lineage = _lineage_id(spark, checkpoint_dir)

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        kept: list[DataFrame] = []

        def keep(df: DataFrame) -> DataFrame:
            kept.append(df.persist())
            return df

        try:
            publishes, drift = step(
                _Batch(session, batch_df, batch_id, lineage, keep)
            )
            _check_epoch(session, index_dir, bound_epoch)
            for suffix, tables, part_col in publishes:
                publish_batch(
                    session,
                    index_dir,
                    f"{lineage}-{batch_id}{suffix}",
                    tables,
                    part_col=part_col,
                )
            _append_drift(
                session,
                index_dir,
                {"batch_id": batch_id, **drift()},
                lineage=lineage,
            )
        finally:
            for df in kept:
                df.unpersist()

    return start_foreach_batch(
        stream, run_batch, checkpoint_dir, available_now
    )


def _has_relation(spark: SparkSession, index_dir: str, name: str) -> bool:
    """Whether the index carries the optional ``name`` relation —
    decided once at stream start (a relation never appears
    mid-stream)."""
    fs = _meta_fs(spark, index_dir)
    return fs.kind(f"{fs.root}/{name}") == "dir"


def run_ivf_maintenance_stream(
    spark: SparkSession,
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and return) the IVF index-maintenance query.

    ``vectors_stream`` must carry ``vec_id`` and ``embedding``
    (array<float/double>) — the same columns ``write_ivf_index``
    reads.  Step: assign each arrival to its nearest frozen centroid
    (the batch plane's one-matmul-per-Arrow-batch pass, which also
    yields the residual the drift row needs) and append the (cluster,
    vec_id) rows into ``postings`` (``cluster=``); drift is the mean
    residual and top-cell share against the build-time baseline."""
    from ..operators.similarity import _assign_clusters_res, with_norm

    def step(b: _Batch):
        cents = _index_array(b.session, index_dir, "centroids")
        # one assignment pass serves the publish and the drift row
        ares = b.keep(_assign_clusters_res(with_norm(b.df), cents))
        return (
            [("", {"postings": ares.select("cluster", "vec_id")}, "cluster")],
            lambda: _ivf_drift_row(b.session, ares, index_dir),
        )

    return _run_index_stream(
        spark, vectors_stream, index_dir, checkpoint_dir, available_now, step
    )


def run_pq_maintenance_stream(
    spark: SparkSession,
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Keep a persisted PQ index's code table current as new vectors
    arrive — the PQ twin of :func:`run_ivf_maintenance_stream`.

    Step: PQ-encode the arrivals against the FROZEN codebooks and
    append them into ``codes`` (``shard = vec_id mod
    PQ_CODE_SHARDS``).  Drift: the batch's mean RECONSTRUCTION error
    (operators/similarity.py::pq_recon_partials) against the
    build-time baseline, flagged past ``PQ_DRIFT_RECON_RATIO`` —
    codebooks that can no longer represent the arriving distribution
    show a rising ratio exactly like IVF centroids do.  The maintained
    code table is bit-identical to a batch ``write_pq_index`` over the
    union corpus with the same books (tests/test_ann_index_stream.py::
    test_pq_maintained_index_matches_batch_rebuild)."""
    from ..operators.similarity import (
        PQ_CODE_SHARDS,
        pq_encode,
        pq_mean_recon,
        with_norm,
    )

    def step(b: _Batch):
        books = _index_array(b.session, index_dir, "codebooks")
        vecs = b.keep(with_norm(b.df))
        codes = pq_encode(vecs, books).withColumn(
            "shard",
            F.pmod(F.col("vec_id"), F.lit(PQ_CODE_SHARDS)).cast("int"),
        )

        def drift() -> dict:
            n, mean_recon = pq_mean_recon(vecs, books)
            return _drift_row(
                n,
                mean_recon,
                _index_baseline(b.session, index_dir).get("mean_residual"),
                lambda ratio: ratio is not None
                and ratio > PQ_DRIFT_RECON_RATIO,
            )

        return [("", {"codes": codes}, "shard")], drift

    return _run_index_stream(
        spark, vectors_stream, index_dir, checkpoint_dir, available_now, step
    )


def run_ivfpq_maintenance_stream(
    spark: SparkSession,
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Keep a persisted IVFADC index current as new vectors arrive.

    Step: unit-normalize the arrivals, assign them against the FROZEN
    coarse centroids, PQ-encode their residuals against the FROZEN
    codebooks and append the (cluster, vec_id, code) rows into
    ``codes`` (``cluster=``).  When the index carries the persisted
    exact-verify relation (``{index}/vectors``, a ``with_vectors=True``
    build), the arrivals' raw vectors are appended there first under a
    ``-vec`` marker — vectors before codes, the semantic gate's
    crash-window order.

    The drift row watches BOTH staleness axes: the COARSE quantizer's
    assignment residual + top-cell occupancy under the IVF thresholds
    (stale cells degrade probe recall and residual coding alike), AND
    the PQ reconstruction-error ratio of the residual coding
    (``recon_ratio``) under ``PQ_DRIFT_RECON_RATIO`` — a shift that
    keeps cell geometry while rotating within-cell structure
    books-stales the ADC tables without moving the coarse signal, so
    either axis alone may flip the flag.  The maintained code table is
    bit-identical to a batch ``write_ivfpq_index`` over the union
    corpus with the same components."""
    from ..operators.similarity import (
        _assign_clusters_res,
        _unit_corpus,
        _vector_table,
        ivfpq_residuals,
        pq_encode,
        pq_mean_recon,
        with_norm,
    )

    has_vec = _has_relation(spark, index_dir, "vectors")

    def step(b: _Batch):
        cents = _index_array(b.session, index_dir, "centroids")
        books = _index_array(b.session, index_dir, "codebooks")
        cn = _unit_corpus(with_norm(b.df))
        # one assignment pass serves the publish AND the drift row;
        # the residuals serve the encode AND the recon drift axis
        ares = b.keep(_assign_clusters_res(cn, cents))
        res = b.keep(ivfpq_residuals(b.session, cn, ares, cents))
        coded = (
            pq_encode(res, books)
            .join(ares.select("vec_id", "cluster"), "vec_id")
            .select("cluster", "vec_id", "code")
        )
        publishes = [("", {"codes": coded}, "cluster")]
        if has_vec:
            vectors = _vector_table(b.df.select("vec_id", "embedding"))
            publishes.insert(0, ("-vec", {"vectors": vectors}, "shard"))

        def drift() -> dict:
            row = _ivf_drift_row(b.session, ares, index_dir)
            n, mean_recon = pq_mean_recon(res, books)
            base = _index_baseline(b.session, index_dir).get("mean_recon")
            ratio = _ratio(mean_recon, base, n)
            row["recon_ratio"] = _round6(ratio)
            if (
                n >= DRIFT_MIN_BATCH
                and ratio is not None
                and ratio > PQ_DRIFT_RECON_RATIO
            ):
                row["rebuild_recommended"] = True
            return row

        return publishes, drift

    return _run_index_stream(
        spark, vectors_stream, index_dir, checkpoint_dir, available_now, step
    )


def run_minhash_maintenance_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Keep a persisted MinHash band index's postings current as new
    documents arrive — the dedup plane on the same lifecycle as the
    three ANN families.  ``docs_stream`` carries (doc_id, text).

    Step: sign the arrivals with the SAME vectorized signature pass and
    band them with the SAME band-slice hash the batch build and the
    pair path use (operators/dedup.py::minhash_signatures + band_rows
    — seed-fixed and deterministic, so the maintained postings are
    BIT-IDENTICAL to a batch ``write_minhash_index`` over the union
    corpus), with the INDEX's recorded build geometry, and append them
    into ``bands`` (``band=``).  When the index carries the persisted
    VERIFY relation (``{index}/shingles``), the arrivals' shingle rows
    are appended there too under a second ``-sh`` marker; a reader in
    the crash window between the two sees bands without shingles,
    which every verify consumer treats as "fall back to band hits",
    never as admitted.

    Drift watches the signal that actually stales an LSH index: the
    batch's EXACT-DUPLICATE RATE vs the build-time corpus rate (the
    two-bar rule, constants above).  Field mapping onto the shared
    ledger schema: ``mean_residual`` = batch dup rate,
    ``baseline_residual`` = build-time rate, ``residual_ratio`` =
    their ratio (null when the build corpus was dup-free)."""
    from ..operators.dedup import band_rows, minhash_signatures
    from ..operators.minhash_index import (
        _shingle_table,
        read_minhash_geometry,
    )

    # band with the INDEX's build geometry: hardcoding the defaults
    # would make a non-default index silently un-probeable
    geo = read_minhash_geometry(spark, index_dir)
    has_sh = _has_relation(spark, index_dir, "shingles")

    def step(b: _Batch):
        docs = b.keep(b.df.select("doc_id", "text"))
        rows = band_rows(
            minhash_signatures(
                docs, geo["n"], geo["bands"] * geo["rows_per_band"]
            ),
            geo["bands"],
            geo["rows_per_band"],
        )
        publishes = [("", {"bands": rows}, "band")]
        if has_sh:
            shingles = _shingle_table(docs, geo["n"])
            publishes.append(("-sh", {"shingles": shingles}, "shard"))

        def drift() -> dict:
            (srow,) = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct(F.xxhash64("text")).alias("n_texts"),
            ).collect()
            n = srow.n or 0
            rate = ((n - (srow.n_texts or 0)) / n) if n else 0.0
            base = _index_baseline(b.session, index_dir).get("dup_rate")
            return _rate_drift_row(n, rate, base)

        return publishes, drift

    return _run_index_stream(
        spark, docs_stream, index_dir, checkpoint_dir, available_now, step
    )


def _collapse_exact(
    batch: DataFrame, id_col: str, key, score, sim: str, keep
) -> tuple[DataFrame, DataFrame]:
    """Within-batch exact collapse shared by the admission gates: one
    rep (min ``id_col``) per ``key`` value.  Returns (reps, copies):
    ``reps`` are the batch rows that go on to probe the index
    (persisted through ``keep``); ``copies`` are the other members as
    finished quarantine decisions — matched to their rep with ``sim``
    exactly 1.0 by identity and ``score`` as the nomination column."""
    groups = batch.groupBy(key.alias("k")).agg(F.min(id_col).alias("rep"))
    members = (
        batch.select(id_col, key.alias("k"))
        .join(groups, "k")
        .select("rep", id_col)
    )
    copies = members.where(F.col(id_col) != F.col("rep")).select(
        id_col,
        score,
        F.col("rep").alias("matched_id"),
        F.round(F.lit(1.0), 6).alias(sim),
        F.lit(False).alias("admitted"),
    )
    reps = keep(
        batch.join(
            members.where(F.col(id_col) == F.col("rep")).select(id_col),
            id_col,
        )
    )
    return reps, copies


def _decisions(
    reps: DataFrame,
    matches: DataFrame,
    id_col: str,
    order: list,
    cols: list,
    copies: DataFrame,
    batch_id: int,
) -> DataFrame:
    """The gates' decision table: each rep's best flagged match
    (``matches`` rows keyed by ``q_id``, ranked by ``order``); a rep
    with none is admitted.  ``cols`` are the rep decision's columns
    between ``id_col`` and ``admitted``.  The exact-collapse ``copies``
    join, then ``batch_id`` and the ``gate`` routing column (a typed
    ``admitted`` BOOLEAN stays a data column; a hive partition value
    round-trips as a string)."""
    from pyspark.sql.window import Window

    best = (
        matches.withColumn(
            "__r",
            F.row_number().over(Window.partitionBy("q_id").orderBy(*order)),
        )
        .where(F.col("__r") == 1)
        .withColumnRenamed("q_id", id_col)
    )
    return (
        reps.select(id_col)
        .join(best, id_col, "left")
        .select(id_col, *cols, F.col("matched_id").isNull().alias("admitted"))
        .unionByName(copies)
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .withColumn(
            "gate",
            F.when(F.col("admitted"), "admit").otherwise("quarantine"),
        )
    )


# Exact-verify admission default: flag at the dedup plane's standard
# near-dup bar when the caller enables verification but names none.
JACCARD_ADMIT_DEFAULT = 0.5

# Near-dup admission: how many of the 16 bands an arrival must share
# with some indexed doc before it is flagged.  An exact copy shares
# ALL bands (identical signature); a true near-dup at Jaccard j hits
# each band w.p. j^ROWS_PER_BAND (j=0.85 -> ~8 of 16 expected), so 2
# is a low-noise default: unrelated texts virtually never share two
# independent 4-row band slices.  Callers wanting exact precision
# pass verify_docs and a threshold instead — band hits then only
# nominate candidates and the flag follows the verified Jaccard.
NEARDUP_MIN_BANDS = 2


def run_neardup_admission_stream(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    min_bands: int = NEARDUP_MIN_BANDS,
    verify_docs: DataFrame | None = None,
    threshold: float | None = None,
    within_batch: bool = False,
    available_now: bool = True,
):
    """The MinHash band index made load-bearing (r13): a streaming
    near-dup ADMISSION GATE over a document ingest.  Per micro-batch
    of (doc_id, text) arrivals:

    1. within-batch exact collapse — one rep (min doc_id) per
       distinct text; the other copies are flagged immediately
       (matched to their rep, Jaccard exactly 1.0 by identity);
    2. reps probe the persisted index: band rows from the SAME
       signature pass the whole dedup plane uses, joined against the
       postings on (band, bh) with the per-bucket rank cap — an
       arrival's ``n_band_hits`` against its best-matching indexed
       doc (most shared bands, ties to the smallest id) decides the
       flag at ``min_bands``.  Verify mode (``threshold`` and/or
       ``verify_docs`` given): band hits only NOMINATE and the flag
       follows the exact Jaccard at the bar — the usual LSH
       precision/cost dial, made explicit per deployment.  The
       verify texts come from the index's own persisted shingle
       relation (``{index}/shingles``, the r14 default build —
       pre-computed arrays, no per-batch corpus re-shingling) when
       it exists, falling back to ``verify_docs``; a candidate whose
       match has shingles in NEITHER (a bands-only index with an
       incomplete ``verify_docs``, or the crash window between the
       bands and shingles publishes) falls back to the band-hit flag
       at ``min_bands`` — fail-CLOSED, so verify mode can never
       silently admit a doc the band evidence flagged (r13 ADVICE,
       medium: the old inner-join verify dropped exactly the
       candidates the gate itself had admitted in earlier batches).
       ``threshold`` without any verify source raises ValueError at
       start — a silently ignored precision bar is worse than a loud
       one;
    3. the CLEAN reps' band rows — and, when the index carries the
       shingle relation, their shingle rows — are appended into the
       index through ``publish_batch``: the gate is SELF-MAINTAINING
       in both flagging modes (a copy of a doc admitted three
       batches ago is flagged today without any rebuild, and in
       verify mode its exact Jaccard is computable because its
       shingles were published with its bands).  Every decision
       lands in ``{index}/admissions`` (doc_id, n_band_hits,
       matched_id, jaccard, admitted, batch_id), partitioned by a
       ``gate`` routing column (``admit``/``quarantine``) so the
       downstream quarantine reader prunes straight to its slice
       while ``admitted`` stays a typed BOOLEAN data column (a hive
       partition value round-trips as a string).

    ``within_batch=True`` (r14, r13 verdict item 2) closes the
    in-batch NEAR-dup hole: the batch's reps are banded against
    THEMSELVES through the same capped ``probe_candidates`` shape
    (the rep relation standing in as postings), keeping only
    (earlier doc_id → later doc_id) directed candidates — the FIRST
    occurrence by doc_id admits, later in-batch near-dups quarantine
    against it (deterministically: the decision depends only on
    batch content + the effective index, so replays re-derive it).
    A later near-dup quarantines on its earlier match regardless of
    that match's own fate — matching a just-quarantined arrival is
    still evidence the text is not novel, and an order-dependent
    "only if the match admitted" rule would make admission depend on
    the index's verdict chain rather than the batch's content.  Off
    by default: the extra self-join prices every batch, and a
    bursty boilerplate surge is precisely when its bucket join is
    biggest; the default path is unchanged (exact copies collapse,
    in-batch near-dups admit together and are caught from the next
    batch on).

    Exactly-once: bands, shingles (when maintained) and admissions
    publish under the ``-bands``, ``-sh`` and ``-adm`` markers (module
    docstring).  Replay determinism: a replayed batch probes an index
    that may still hold its own crashed attempt's band (and shingle)
    files (the erase runs at publish time, after the decision) — but
    candidates exclude the batch's own doc ids (see the probe
    comment), leftover band files can only carry those ids, and a
    leftover shingle row is only ever joined for a candidate's
    match_id (never an own-batch id), so a replay re-derives
    bit-identical decisions from the identical effective index.

    Scale shape per batch of M arrivals: signing is M-linear, the
    probe join touches matched buckets only (rank-capped), the
    within-batch pass (when enabled) adds one batch-sized self-join
    under the same cap, and the verify join probes candidate
    match_ids against the persisted shingle relation — a broadcast
    of the candidate sliver against a column-pruned scan of
    pre-computed arrays (vs. re-shingling the corpus TEXT per batch,
    the pre-r14 cost; the scan is still corpus-file-sized, which the
    SCALE.md admission-drain row prices).  One drift row per batch
    records the FLAG RATE (mean_residual) rated against the index's
    build-time dup-rate baseline (``baseline_residual`` /
    ``residual_ratio``, the maintenance stream's two-bar shape — r13
    ADVICE: an ingest whose expected dup rate matches its corpus
    must not recommend rebuild forever)."""
    from ..operators.dedup import band_rows, minhash_signatures, shingles_expr
    from ..operators.minhash_index import (
        _shingle_table,
        probe_candidates,
        read_minhash_geometry,
    )

    geo = read_minhash_geometry(spark, index_dir)
    has_sh = _has_relation(spark, index_dir, "shingles")
    verify = threshold is not None or verify_docs is not None
    if threshold is not None and verify_docs is None and not has_sh:
        raise ValueError(
            f"neardup admission: threshold={threshold} given but the "
            f"index at {index_dir} has no persisted shingle relation "
            f"and no verify_docs was supplied — there is nothing to "
            f"verify the exact Jaccard against, and silently flagging "
            f"on band hits alone would ignore the caller's precision "
            f"bar.  Rebuild the index with with_shingles=True, pass "
            f"verify_docs, or drop the threshold for band-hit mode."
        )

    def step(b: _Batch):
        session = b.session
        docs = b.keep(b.df.select("doc_id", "text"))
        # 1. within-batch exact collapse
        reps, copies = _collapse_exact(
            docs,
            "doc_id",
            F.md5("text"),
            F.lit(geo["bands"]).alias("n_band_hits"),
            "jaccard",
            b.keep,
        )

        # 2. probe the index with the batch's own ids EXCLUDED
        # (probe_candidates removes them BEFORE its cap window):
        # semantically the gate asks "does this near-dup anything
        # ALREADY ingested", and operationally a crash-replayed
        # batch probes an index that still holds its own crashed
        # attempt's leftover band files (erase-before-republish
        # runs at PUBLISH time, after this decision) — without
        # the exclusion an admitted doc would match ITSELF on
        # replay and flip to quarantined, and a leftover row
        # consuming a cap slot could displace a genuine indexed
        # doc and flip a decision the other way
        postings = session.read.parquet(f"{index_dir}/bands").select(
            "band", "bh", "doc_id"
        )
        # persisted: q_bands has up to FIVE consumers per batch (two
        # inside the index probe's probe_candidates, two more in the
        # within-batch self probe, and the clean-bands publish) and
        # each otherwise re-plans the Python signing pass
        q_bands = b.keep(
            band_rows(
                minhash_signatures(
                    reps, geo["n"], geo["bands"] * geo["rows_per_band"]
                ),
                geo["bands"],
                geo["rows_per_band"],
            ).withColumnRenamed("doc_id", "q_id")
        )
        per_match = probe_candidates(postings, q_bands, exclude_ids=docs)
        if within_batch:
            # in-batch near-dups: the reps' band rows stand in as
            # postings and probe THEMSELVES through the same capped
            # shape; only (earlier -> later) directed rows survive, so
            # the first occurrence by doc_id admits and later in-batch
            # near-dups quarantine against it.  No exclude_ids:
            # own-batch ids are the point here, and the relation never
            # holds crashed-attempt leftovers (it is derived from the
            # batch).
            in_batch = probe_candidates(
                q_bands.select("band", "bh", F.col("q_id").alias("doc_id")),
                q_bands,
            ).where(F.col("match_id") < F.col("q_id"))
            per_match = per_match.unionByName(in_batch)
        if verify:
            bar = JACCARD_ADMIT_DEFAULT if threshold is None else threshold
            qsh = reps.select(
                F.col("doc_id").alias("q_id"),
                shingles_expr(geo["n"]).alias("sh_a"),
            )
            # sh_b sources, LEFT-joined in preference order: the
            # index's persisted relation (self-maintained,
            # pre-computed arrays), the caller's verify_docs, the
            # batch's own reps (within-batch candidates' matches).
            # Ids never conflict on VALUE across sources (same doc ->
            # same shingles), so coalesce order is cost, not
            # correctness.
            srcs = []
            if has_sh:
                srcs.append(
                    session.read.parquet(f"{index_dir}/shingles").select(
                        F.col("doc_id").alias("match_id"),
                        F.col("shingles").alias("__shb0"),
                    )
                )
            if verify_docs is not None:
                srcs.append(
                    verify_docs.select(
                        F.col("doc_id").alias("match_id"),
                        shingles_expr(geo["n"]).alias("__shb1"),
                    )
                )
            if within_batch:
                srcs.append(
                    reps.select(
                        F.col("doc_id").alias("match_id"),
                        shingles_expr(geo["n"]).alias("__shb2"),
                    )
                )
            cand = per_match.join(qsh, "q_id")
            for s in srcs:
                cand = cand.join(s, "match_id", "left")
            sh_b = F.coalesce(*[F.col(s.columns[-1]) for s in srcs])
            inter = F.size(F.array_intersect(F.col("sh_a"), sh_b))
            jac = inter.cast("double") / (
                F.size("sh_a") + F.size(sh_b) - inter
            )
            # verified candidates flag on the UNROUNDED exact Jaccard
            # at the bar; unverifiable ones (no shingle source knows
            # the match — a bands-only index with an incomplete
            # verify_docs, or the bands/shingles crash window — or an
            # empty shingle union) fall back to the band-hit flag:
            # fail-CLOSED, so verify mode never silently admits a doc
            # the band evidence flagged
            flagged = F.when(jac.isNotNull(), jac >= F.lit(bar)).otherwise(
                F.col("n_band_hits") >= F.lit(min_bands)
            )
            per_match = cand.where(flagged).withColumn(
                "jaccard",
                F.when(jac.isNotNull(), F.round(jac, 6)).cast("double"),
            )
        else:
            per_match = per_match.where(
                F.col("n_band_hits") >= F.lit(min_bands)
            ).withColumn("jaccard", F.lit(None).cast("double"))
        decisions = b.keep(
            _decisions(
                reps,
                per_match.select(
                    "q_id",
                    F.col("match_id").alias("matched_id"),
                    "n_band_hits",
                    "jaccard",
                ),
                "doc_id",
                [F.desc("n_band_hits"), F.asc("matched_id")],
                [
                    F.coalesce("n_band_hits", F.lit(0)).alias("n_band_hits"),
                    "matched_id",
                    "jaccard",
                ],
                copies,
                b.batch_id,
            )
        )

        # 3. publish: clean reps' bands (the probe pass's own band
        # rows, filtered — no second signature pass), their shingles
        # when the index keeps the verify relation (this keeps
        # verify-mode self-maintenance true), then the decision table
        admitted = decisions.where("admitted").select("doc_id")
        clean_bands = q_bands.withColumnRenamed("q_id", "doc_id").join(
            admitted, "doc_id"
        )
        publishes = [
            (
                "-bands",
                {"bands": clean_bands.select("doc_id", "band", "bh")},
                "band",
            )
        ]
        if has_sh:
            shingles = _shingle_table(docs.join(admitted, "doc_id"), geo["n"])
            publishes.append(("-sh", {"shingles": shingles}, "shard"))
        publishes.append(("-adm", {"admissions": decisions}, "gate"))

        def drift() -> dict:
            # rated against the index's build-time dup-rate baseline:
            # an ingest whose flag rate matches the dup rate of the
            # very corpus the index was built from is business as
            # usual, not drift, and must not recommend rebuild forever
            n, rate = _flag_rate(decisions)
            base = _index_baseline(session, index_dir).get("dup_rate")
            return _rate_drift_row(n, rate, base)

        return publishes, drift

    return _run_index_stream(
        spark, docs_stream, index_dir, checkpoint_dir, available_now, step
    )


# Semantic admission: exact-cosine bar for the verified path — the
# SemDeDup-style "semantically redundant" threshold; arrivals at or
# above it against any indexed vector are quarantined.
SEMANTIC_ADMIT_COSINE = 0.92
# There is deliberately NO default quantized-score bar: measured on
# the test corpus, the ADC of an EXACT COPY ranges 0.37-0.75 (median
# 0.50) while the non-match shortlist p95 sits at ~0.26 — the PQ
# reconstruction error swamps any fixed margin under a cosine
# threshold, so ADC is nomination evidence, never a decision.  The
# gate therefore REQUIRES an exact verify source (the persisted
# vector relation or verify_vecs); a caller who has calibrated the
# separation on their own corpus may pass an explicit ``adc_bar``
# instead (decision: adc >= adc_bar for candidates no vector source
# can verify).
# Self-baseline warmup: the semantic drift row rates the batch flag
# rate against the TRAILING MEDIAN of this lineage's own prior rows
# (an IVFADC build records no "expected semantic-dup rate" the way
# the minhash build records its exact-dup rate) — before this many
# rows exist, the absolute bar alone decides, so a steady high-dup
# ingest flags during warmup and then goes quiet once its own rate
# IS the baseline.
SEMANTIC_DRIFT_WARMUP = 3
SEMANTIC_DRIFT_MIN_FLAG_RATE = 0.2
SEMANTIC_DRIFT_FLAG_RATE_RATIO = 2.0


def _lineage_trailing_baseline(
    fs, lineage: str, warmup: int = SEMANTIC_DRIFT_WARMUP
) -> float | None:
    """Median ``mean_residual`` of THIS lineage's prior drift rows
    (file names are ``{lineage}-{batch:012d}.json``, one metadata
    listing + a handful of tiny reads) — the self-baseline for
    streams whose index records no build-time rate to compare
    against.  None until ``warmup`` rows exist."""
    rows = []
    for p in _drift_row_files(fs):
        if not p.rsplit("/", 1)[1].startswith(f"{lineage}-"):
            continue
        try:
            r = json.loads(fs.read_bytes(p).decode())
        except Exception:
            continue
        if r.get("mean_residual") is not None:
            rows.append((r.get("batch_id") or 0, float(r["mean_residual"])))
    if len(rows) < warmup:
        return None
    vals = sorted(v for _, v in rows)
    mid = len(vals) // 2
    return (
        vals[mid]
        if len(vals) % 2
        else (vals[mid - 1] + vals[mid]) / 2.0
    )


def run_semantic_admission_stream(
    spark: SparkSession,
    vectors_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    threshold: float = SEMANTIC_ADMIT_COSINE,
    nprobe: int | None = None,
    rerank: int | None = None,
    verify_vecs: DataFrame | None = None,
    adc_bar: float | None = None,
    within_batch: bool = False,
    available_now: bool = True,
):
    """Streaming SEMANTIC admission gate over an embedding ingest —
    the embedding-plane twin of :func:`run_neardup_admission_stream`
    (r14), completing the admission family: exact/near-dup text
    (minhash), semantic redundancy (this), token budget
    (streaming/admission.py).  Per micro-batch of (vec_id, embedding)
    arrivals against a persisted IVFADC index:

    1. within-batch exact collapse — one rep (min vec_id) per
       BIT-identical embedding (xxhash64 over the array); copies are
       quarantined against their rep at cosine exactly 1.0;
    2. reps probe the index through the factored ADC nomination
       stage (operators/similarity.py::ivfpq_adc_shortlist — probe
       the nprobe nearest frozen cells, score ONLY those cells'
       residual codes, per-query top-``rerank`` shortlist; own-batch
       ids excluded BEFORE the cut, the replay-determinism ordering
       of the minhash gate's probe).  Each candidate is then decided
       by EXACT cosine where a vector source knows the match — the
       index's persisted ``vectors`` relation (self-maintained, the
       preferred source), the caller's ``verify_vecs``, or (for
       within-batch candidates) the batch itself.  At least one
       exact source is REQUIRED (ValueError otherwise): unlike
       minhash band hits, the ADC shortlist always nominates
       top-``rerank`` rows and its quantized score cannot carry a
       cosine bar (module calibration note: an exact copy's ADC is
       0.37-0.75 on the test corpus), so nomination never decides.
       A candidate NO source can verify flags only under a
       caller-calibrated ``adc_bar`` — and with the persisted
       relation such a candidate cannot arise from the gate's own
       operation, because vectors publish BEFORE codes (crash
       window produces the inert vector-without-code, never a
       nominating code row without its verify vector);
    3. ``within_batch=True`` additionally blocks the batch's reps by
       their top-1 coarse cell and exact-cosines each pair inside a
       cell — the first occurrence by vec_id admits, later in-batch
       semantic dups quarantine against it (same-cell blocking is
       the pair path's trade: a ≥-threshold pair straddling a cell
       boundary is missed here and caught from the next batch on);
    4. the CLEAN reps' residual codes join the index through
       ``publish_batch`` (the SAME frozen-component encode the
       maintenance stream uses — maintained-equals-rebuilt
       determinism holds), their raw vectors join the persisted
       verify relation when the index carries one, and every
       decision lands in ``{index}/admissions`` (vec_id, adc,
       matched_id, cosine, admitted, batch_id) partitioned by
       ``gate=admit/quarantine``.

    Exactly-once: up to three batch-keyed markers (``…-codes``,
    ``…-vec``, ``…-adm``), each replaying idempotently — the
    neardup gate's argument verbatim; decisions are deterministic in
    (batch content, effective index) because own-batch leftovers are
    excluded from nomination and frozen components make encoding
    deterministic.  Batch size is bounded by the loud PQ_Q_CAP
    (131072) of the driver-side ADC tables — size
    ``maxFilesPerTrigger`` accordingly.

    Drift: one row per batch records the FLAG RATE, rated against
    the TRAILING MEDIAN of this lineage's own prior rows
    (``_lineage_trailing_baseline``) — an IVFADC build records no
    expected semantic-dup rate, so the stream learns its own: a
    steady 30%-dup ingest flags only during the
    ``SEMANTIC_DRIFT_WARMUP`` cold-start and then goes quiet, while
    a genuine surge doubles the trailing median and flags (the r13
    ADVICE two-bar lesson, without a build-time baseline to lean
    on)."""
    from ..operators.similarity import (
        IVFPQ_NPROBE,
        PQ_RERANK,
        _assign_clusters,
        _unit_corpus,
        _vector_table,
        cosine_expr,
        ivfpq_adc_shortlist,
        ivfpq_residuals,
        pq_encode,
        with_norm,
    )

    nprobe = IVFPQ_NPROBE if nprobe is None else nprobe
    rerank = PQ_RERANK if rerank is None else rerank
    has_vec = _has_relation(spark, index_dir, "vectors")
    if not has_vec and verify_vecs is None and adc_bar is None:
        raise ValueError(
            f"semantic admission: the index at {index_dir} has no "
            f"persisted vector relation and no verify_vecs was "
            f"supplied — the ADC shortlist alone cannot DECIDE "
            f"admission (it always nominates top-{rerank} candidates "
            f"and the quantized score of even an exact copy is far "
            f"below the cosine bar — see the module calibration "
            f"note).  Rebuild with with_vectors=True, pass "
            f"verify_vecs, or pass an adc_bar you calibrated on "
            f"your own corpus."
        )

    def step(b: _Batch):
        session = b.session
        vecs = b.keep(b.df.select("vec_id", "embedding"))
        # 1. within-batch exact collapse (bit-identical arrays)
        reps, copies = _collapse_exact(
            vecs,
            "vec_id",
            F.xxhash64("embedding"),
            F.lit(None).cast("double").alias("adc"),
            "cosine",
            b.keep,
        )
        batch_ids = [r.vec_id for r in reps.select("vec_id").collect()]

        # 2. ADC nomination against the persisted index, own ids
        # excluded before the shortlist cut
        cents = _index_array(session, index_dir, "centroids")
        books = _index_array(session, index_dir, "codebooks")
        coded = session.read.parquet(f"{index_dir}/codes").select(
            "cluster", "vec_id", "code"
        )
        cand = ivfpq_adc_shortlist(
            session,
            reps,
            (cents, books, coded),
            nprobe=nprobe,
            rerank=rerank,
            exclude_ids=batch_ids,
        )
        if within_batch:
            # 3. same-cell exact-cosine pairs among the reps; earlier
            # vec_id admits (deterministic, batch-only)
            assigned = _assign_clusters(with_norm(reps), cents)
            rn = (
                with_norm(reps)
                .join(assigned.select("vec_id", "cluster"), "vec_id")
                .select("vec_id", "cluster", "emb_d", "norm")
            )
            in_batch = (
                rn.alias("a")
                .join(rn.alias("b"), F.col("a.cluster") == F.col("b.cluster"))
                .where(F.col("b.vec_id") < F.col("a.vec_id"))
                .select(
                    F.col("a.vec_id").alias("q_id"),
                    F.col("b.vec_id").alias("neighbor_id"),
                    cosine_expr("a", "b").alias("adc"),
                )
                .where(F.col("adc") >= F.lit(threshold))
            )
            cand = cand.unionByName(in_batch)

        # exact verification in preference order: persisted vectors ->
        # verify_vecs -> the batch's own reps
        srcs = []
        if has_vec:
            srcs.append(
                session.read.parquet(f"{index_dir}/vectors").select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("__emb0"),
                )
            )
        if verify_vecs is not None:
            srcs.append(
                verify_vecs.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("__emb1"),
                )
            )
        if within_batch:
            srcs.append(
                reps.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("__emb2"),
                )
            )
        qn = with_norm(reps).select(
            F.col("vec_id").alias("q_id"), "emb_d", "norm"
        )
        jc = cand.join(qn.alias("q"), "q_id")
        for s in srcs:
            jc = jc.join(s, "neighbor_id", "left")
        if srcs:
            # b-side prepared EXPLICITLY — with_norm would
            # short-circuit on the query side's emb_d column and
            # silently score q against itself
            emb_b = F.transform(
                F.coalesce(*[F.col(s.columns[-1]) for s in srcs]),
                lambda x: x.cast("double"),
            )
            norm_b = F.sqrt(
                F.aggregate(emb_b, F.lit(0.0), lambda acc, x: acc + x * x)
            )
            dot = F.aggregate(
                F.zip_with(F.col("emb_d"), emb_b, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            scored = jc.withColumn("__cos", dot / (F.col("norm") * norm_b))
        else:
            scored = jc.withColumn("__cos", F.lit(None).cast("double"))
        # verified candidates decide on the exact cosine at the bar;
        # unverifiable ones only flag when the caller gave a
        # calibrated adc_bar (with the persisted relation and the
        # vectors-before-codes publish order, an unverifiable
        # candidate cannot arise from the gate's own operation — only
        # from an incomplete verify_vecs or a legacy index)
        flagged = F.when(
            F.col("__cos").isNotNull(), F.col("__cos") >= F.lit(threshold)
        ).otherwise(
            F.lit(False) if adc_bar is None else F.col("adc") >= F.lit(adc_bar)
        )
        decisions = b.keep(
            _decisions(
                reps,
                scored.where(flagged).select(
                    "q_id",
                    F.col("neighbor_id").alias("matched_id"),
                    F.round("adc", 6).alias("adc"),
                    F.when(
                        F.col("__cos").isNotNull(), F.round(F.col("__cos"), 6)
                    )
                    .cast("double")
                    .alias("cosine"),
                ),
                "vec_id",
                [
                    F.desc_nulls_last("cosine"),
                    F.desc_nulls_last("adc"),
                    F.asc("matched_id"),
                ],
                ["adc", "matched_id", "cosine"],
                copies,
                b.batch_id,
            )
        )

        # 4. publish: clean reps' residual codes (the maintenance
        # stream's exact encode — frozen components), optional raw
        # vectors, then the decision table.  Vectors land BEFORE
        # codes: a code row is what nominates candidates, so the crash
        # window can only produce the inert "vector without code",
        # never a code row whose exact verification is impossible
        # (the minhash bands-before-shingles argument, direction
        # REVERSED to match which table drives nomination here)
        clean = reps.join(
            decisions.where("admitted").select("vec_id"), "vec_id"
        )
        cn = _unit_corpus(with_norm(clean))
        assigned = _assign_clusters(cn, cents).select("vec_id", "cluster")
        coded_out = (
            pq_encode(ivfpq_residuals(session, cn, assigned, cents), books)
            .join(assigned, "vec_id")
            .select("cluster", "vec_id", "code")
        )
        publishes = []
        if has_vec:
            vectors = _vector_table(clean.select("vec_id", "embedding"))
            publishes.append(("-vec", {"vectors": vectors}, "shard"))
        publishes.append(("-codes", {"codes": coded_out}, "cluster"))
        publishes.append(("-adm", {"admissions": decisions}, "gate"))

        def drift() -> dict:
            n, rate = _flag_rate(decisions)
            base = _lineage_trailing_baseline(
                _meta_fs(session, index_dir), b.lineage
            )
            return _rate_drift_row(
                n,
                rate,
                base,
                SEMANTIC_DRIFT_MIN_FLAG_RATE,
                SEMANTIC_DRIFT_FLAG_RATE_RATIO,
            )

        return publishes, drift

    return _run_index_stream(
        spark, vectors_stream, index_dir, checkpoint_dir, available_now, step
    )
