"""Streaming CDC apply: a change feed continuously MERGEd into a
dimension snapshot — the streaming face of operators/cdc.py's SCD1
``apply_changes`` (Delta's ``MERGE INTO`` maintained by a stream,
without a transaction-log dependency).

A 100 TB training platform's dimensions (document metadata, user
profiles, licensing state) arrive as change feeds: upserts and
deletes keyed by the dimension key.  This operator keeps a parquet
snapshot current as batches arrive:

- Each micro-batch is compacted to its LATEST change per key (one
  window over the batch — arrival order within the batch is the
  version order, ties broken by the change file's row order via
  ``change_seq``), then merged into the current snapshot with the
  SAME ``apply_changes`` the batch plane uses — one left-anti join
  plus a union, broadcast-capable because a change batch is ≪ the
  dimension.

- **Versioned snapshot + atomic pointer.**  Every batch writes a full
  new snapshot directory ``_v{lineage}-{batch}`` and then swaps the
  ``_current`` pointer file (write-to-temp + rename, the repo-wide
  publish discipline).  Readers resolve the pointer and read one
  immutable directory — never a half-rewritten table.  A dimension is
  snapshot-rewrite-sized by definition (it broadcasts into joins); a
  fact-scaled feed belongs in the partitioned-append plane
  (streaming/etl_stream.py), not here.

- **Effective exactly-once.**  The pointer swap is keyed by
  (lineage, batch): a ``_merge_commits/{lineage}-{batch}`` marker
  short-circuits a replayed batch (same contract as publish_batch);
  an interrupted batch left only an unreferenced ``_v`` directory and
  no marker, so its replay rewrites and re-points idempotently.
  Superseded snapshot directories are retired after the swap (keeping
  ``keep_versions`` for readers in flight).  Connectors whose rename
  refuses an existing destination (Hadoop) cannot swap in place; the
  fallback PARKS the old pointer under a ``.prev-{batch}`` journal
  name, moves the replacement in, then drops the park — every crash
  point leaves either ``_current`` or the journal carrying the old
  value, so a racing reader resolves the old snapshot
  (``_recover_pointer``) and a replaying writer restores the pointer
  before merging (``_restore_parked_pointer``) — no crash point
  merges against a vanished base, lineage re-mints included; a
  markers-scan last resort covers bases written before the journal
  existed.

Delivery pinned by tests/test_cdc_stream.py: chopped arrivals
converge to the batch ``apply_changes`` fold, a crash between
snapshot write and pointer swap replays without duplication, and a
replay of a committed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.cdc import OP_COL, OP_UPSERT
from .etl_stream import _lineage_id, _meta_fs, start_foreach_batch

CURRENT_PTR = "_current"


def compact_batch(changes: DataFrame, key: str, seq_col: str = "change_seq") -> DataFrame:
    """Latest change per key within one micro-batch (highest seq wins
    — the feed's own ordering column, monotone within a key)."""
    w = Window.partitionBy(key).orderBy(F.desc(seq_col))
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def _parked_pointer(fs) -> str | None:
    """The old pointer value parked under ``_current.prev-{bkey}`` by
    the rename-fallback swap (at most one exists: it is created only
    inside the fallback and deleted right after the new pointer lands).
    Returns its content, or None."""
    if fs.kind(fs.root) is None:
        return None  # base not created yet (first batch)
    for p in fs.list_files(fs.root):
        name = p.rsplit("/", 1)[-1]
        if name.startswith(f"{CURRENT_PTR}.prev-"):
            try:
                return fs.read_bytes(p).decode().strip()
            except OSError:
                continue  # the writer finished the swap and dropped
                # the park between our listing and this read — the
                # caller re-checks _current
    return None


def _restore_parked_pointer(fs, ptr: str) -> None:
    """Writer-side repair for the rename-fallback crash windows: a
    parked ``.prev`` with no ``_current`` means the crash hit between
    park and move-in — move the old pointer back; a parked ``.prev``
    WITH a ``_current`` means the crash hit after move-in — the park
    is stale, delete it."""
    if fs.kind(fs.root) is None:
        return  # base not created yet (first batch)
    for p in fs.list_files(fs.root):
        name = p.rsplit("/", 1)[-1]
        if not name.startswith(f"{CURRENT_PTR}.prev-"):
            continue
        if fs.kind(ptr) == "file":
            fs.delete_file(p)
        else:
            fs.move(p, ptr)


def _recover_pointer(fs) -> str | None:
    """Reader-side resolution when the ``_current`` file is absent.

    Primary: the ``.prev`` journal parked by the rename-fallback swap
    (``merge_batch``) — it carries the OLD pointer value, which is the
    correct base for any in-flight replay, lineage changes included.
    Last resort (legacy bases written before the park journal existed):
    the newest committed (lineage, batch) marker whose ``_v`` snapshot
    directory still exists.  The marker scan compares batch numbers,
    which is only meaningful within ONE lineage — a base that lived
    through a checkpoint re-mint resolves via the journal path, never
    this one, because post-journal writers can no longer crash into a
    no-pointer state.  Returns the version directory name, or None
    when nothing was ever committed (the legitimate base=None case)."""
    import re

    parked = _parked_pointer(fs)
    if parked and fs.kind(f"{fs.root}/{parked}") is not None:
        return parked
    # The park scan coming up empty — including the read-raced case
    # where the writer dropped the park between listing and read — is
    # exactly the moment a fresh ``_current`` may have just landed.
    # Re-check it BEFORE the legacy marker scan: on a legacy base with
    # foreign-lineage markers, falling straight through would resolve
    # a stale snapshot despite a live pointer.
    ptr = f"{fs.root}/{CURRENT_PTR}"
    if fs.kind(ptr) == "file":
        try:
            cur = fs.read_bytes(ptr).decode().strip()
        except OSError:
            cur = ""
        if cur and fs.kind(f"{fs.root}/{cur}") is not None:
            return cur
    commits = f"{fs.root}/_merge_commits"
    if fs.kind(commits) is None:
        return None
    cands = []
    for p in fs.list_files(commits):
        m = re.match(r"([0-9a-f]{12})-(\d+)$", p.rsplit("/", 1)[-1])
        if m and fs.kind(f"{fs.root}/_v{m.group(0)}") is not None:
            cands.append((int(m.group(2)), m.group(0)))
    if not cands:
        return None
    return f"_v{max(cands)[1]}"


def read_current(spark: SparkSession, base_dir: str) -> DataFrame | None:
    """The snapshot the ``_current`` pointer references, or None
    before the first commit.  A missing pointer file with committed
    versions behind it (the delete→move window of the rename
    fallback, or a crash inside it) resolves to the newest committed
    snapshot instead of None — a reader never observes the dimension
    vanishing, and a crashed writer's replay merges against the real
    base instead of silently rebuilding from one batch."""
    fs = _meta_fs(spark, base_dir)
    ptr = f"{fs.root}/{CURRENT_PTR}"
    if fs.kind(ptr) != "file":
        version = _recover_pointer(fs)
        if version is None:
            # the live writer may have COMPLETED the swap between our
            # pointer check and the recovery scan (park dropped, new
            # pointer in place) — re-check once before concluding the
            # base has never been committed
            if fs.kind(ptr) == "file":
                version = fs.read_bytes(ptr).decode().strip()
            else:
                return None
        return spark.read.parquet(f"{base_dir}/{version}")
    version = fs.read_bytes(ptr).decode().strip()
    return spark.read.parquet(f"{base_dir}/{version}")


def _retire_old_versions(fs, current: str, keep_versions: int) -> None:
    """Delete superseded ``_v`` snapshot dirs beyond ``keep_versions``
    (the pointer's target is always kept).  Version names embed
    (lineage, batch); retention keeps the numerically NEWEST batches
    (lexicographic order would sort batch 10 before 2) — anything not
    current is retirable, newest-first retention is a courtesy to
    readers in flight."""
    import re

    dirs = set()
    for p in fs.list_files(fs.root, recursive=True):
        rel = p[len(fs.root) + 1:]
        m = re.match(r"(_v([0-9a-f]{12})-(\d+))/", rel)
        if m:
            dirs.add((m.group(2), int(m.group(3)), m.group(1)))
    dirs = {d for d in dirs if d[2] != current}
    for _, _, d in sorted(dirs)[: max(0, len(dirs) - keep_versions)]:
        fs.delete_dir(f"{fs.root}/{d}")


def run_scd1_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    key: str,
    keep_versions: int = 1,
    available_now: bool = True,
):
    """Start (and return) the standing MERGE query.

    ``changes_stream`` must carry ``key``, ``op`` ('upsert'|'delete'),
    ``change_seq`` (monotone per key) and the payload columns."""

    def scd1_merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        compacted = compact_batch(batch_df, key).drop("change_seq")
        if base is None:
            return compacted.where(F.col(OP_COL) == OP_UPSERT).drop(OP_COL)
        # inline apply_changes (operators/cdc.py): anti-join out
        # every changed key, union the upsert payloads back in
        return base.join(
            compacted.select(key), key, "left_anti"
        ).unionByName(
            compacted.where(F.col(OP_COL) == OP_UPSERT).drop(OP_COL)
        )

    return _run_merge_stream(
        spark, changes_stream, base_dir, checkpoint_dir, scd1_merge,
        keep_versions, available_now,
    )


def run_scd2_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    key: str,
    keep_versions: int = 1,
    available_now: bool = True,
):
    """SCD2 variant: the maintained snapshot is the full INTERVAL
    HISTORY (payload, valid_from, valid_to, is_current — the same
    shape operators/cdc.py::scd2_history builds in batch), with
    ``change_seq`` as the version axis.

    Per batch: every change is a version (no latest-wins compaction).
    Upserts open intervals [seq, next-change-seq-of-the-key); a delete
    closes the preceding interval and opens nothing; a changed key's
    carried CURRENT row is closed at the key's first batch seq.  The
    whole merge is one per-key window over the BATCH plus an anti-join
    split of the carried history — no history-scale window, so cost
    per batch is O(batch + touched history rows)."""

    def scd2_merge(batch_df: DataFrame, base: DataFrame | None) -> DataFrame:
        w = Window.partitionBy(key).orderBy("change_seq")
        batch_hist = (
            batch_df.withColumn("_next", F.lead("change_seq").over(w))
            .where(F.col(OP_COL) == OP_UPSERT)
            .select(
                *[c for c in batch_df.columns if c not in (OP_COL, "change_seq")],
                F.col("change_seq").alias("valid_from"),
                F.col("_next").alias("valid_to"),
                F.col("_next").isNull().cast("int").alias("is_current"),
            )
        )
        if base is None:
            return batch_hist
        first_seq = batch_df.groupBy(key).agg(
            F.min("change_seq").alias("_first_seq")
        )
        # the changed keys' carried current rows close at the key's
        # first batch seq; everything else rides through untouched
        closing = (
            base.where(F.col("is_current") == 1)
            .join(first_seq, key)
            .withColumn("valid_to", F.col("_first_seq"))
            .withColumn("is_current", F.lit(0))
            .drop("_first_seq")
        )
        untouched = base.where(F.col("is_current") == 0).unionByName(
            base.where(F.col("is_current") == 1).join(
                first_seq.select(key), key, "left_anti"
            )
        )
        return untouched.unionByName(closing).unionByName(batch_hist)

    return _run_merge_stream(
        spark, changes_stream, base_dir, checkpoint_dir, scd2_merge,
        keep_versions, available_now,
    )


def _run_merge_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    base_dir: str,
    checkpoint_dir: str,
    merge_fn,
    keep_versions: int,
    available_now: bool,
):
    """Shared skeleton: exactly-once versioned-snapshot publish around
    a pluggable (batch, current-snapshot) -> new-snapshot merge."""
    lineage = _lineage_id(spark, checkpoint_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        fs = _meta_fs(session, base_dir)
        bkey = f"{lineage}-{batch_id}"
        marker = f"{fs.root}/_merge_commits/{bkey}"
        ptr = f"{fs.root}/{CURRENT_PTR}"
        _restore_parked_pointer(fs, ptr)
        if fs.kind(marker) is not None:
            return  # committed before a crash: replay is a no-op
        version = f"_v{bkey}"
        if (
            fs.kind(ptr) == "file"
            and fs.read_bytes(ptr).decode().strip() == version
        ):
            # crash landed BETWEEN the pointer swap and the marker:
            # the swap IS the commit point, so just record it —
            # re-merging would read the new snapshot and overwrite
            # the very directory it reads from
            fs.mkdirs(f"{fs.root}/_merge_commits")
            fs.write_bytes(marker, b"")
            _retire_old_versions(fs, version, keep_versions)
            return
        merged = merge_fn(batch_df, read_current(session, base_dir))
        merged.write.mode("overwrite").parquet(f"{base_dir}/{version}")
        # atomic pointer swap: write-to-temp + rename, then the commit
        # marker; a crash between the two replays into the SAME
        # version directory and re-points identically
        tmp = f"{fs.root}/{CURRENT_PTR}.tmp-{bkey}"
        fs.write_bytes(tmp, version.encode())
        try:
            fs.move(tmp, f"{fs.root}/{CURRENT_PTR}")
        except Exception:
            # Hadoop rename refuses an existing destination.  Never
            # delete-then-move (a crash inside that window leaves NO
            # pointer anywhere): PARK the old pointer under a .prev
            # journal name first — every crash point then has either
            # _current or the .prev journal carrying the old value,
            # and _restore_parked_pointer / read_current resolve it
            # without guessing across lineages.
            if fs.kind(ptr) != "file":
                # the move failed transiently while NO pointer exists
                # (e.g. first publish): there is nothing to park, and
                # fs.move(_current, prev) would raise FileNotFound and
                # mask the original error — surface the real failure
                raise
            prev = f"{fs.root}/{CURRENT_PTR}.prev-{bkey}"
            fs.move(f"{fs.root}/{CURRENT_PTR}", prev)
            fs.move(tmp, f"{fs.root}/{CURRENT_PTR}")
            fs.delete_file(prev)
        fs.mkdirs(f"{fs.root}/_merge_commits")
        fs.write_bytes(marker, b"")
        _retire_old_versions(fs, version, keep_versions)

    return start_foreach_batch(
        changes_stream, merge_batch, checkpoint_dir, available_now
    )
