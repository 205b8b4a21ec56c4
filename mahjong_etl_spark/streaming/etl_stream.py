"""Streaming ETL: the reference's daily batch loop as a live pipeline.

The reference ingests by re-running the whole batch job per date
(run_scraper.sh: cp logs, parse, rsync).  With the tenhou streaming
source this becomes a standing query: new log files are parsed
exactly once per micro-batch — ONE parse per game via the ``_parsed``
pseudo-table (nine per-table streams would parse the same XML nine
times) — and ``foreachBatch`` fans each batch out to the same nine
partitioned parquet sinks the batch ETL writes, with the same minted
kyoku ids (the stream reader rebuilds per-date offsets, so ids are
identical no matter how arrivals chop into batches; pinned by
tests/test_etl_stream.py against plans/etl.py::run_etl output).

Delivery contract: EFFECTIVE EXACTLY-ONCE.  Structured Streaming
replays an interrupted batch with identical content (the offset range
is checkpointed in the WAL before execution), so the sink only needs
replay-idempotence, built from two pieces (r6 verdict item 4 — the
idempotent-sink upgrade the r6 docstring promised):

1. **Batch-keyed file publish.**  Each table's batch output is staged
   under ``_staging/`` and then moved into the final ``dt=`` partition
   dirs under names prefixed ``b{lineage}-{id}-``.  Before moving,
   every existing file under that exact prefix in the target
   partitions is deleted — so a replay of a half-published batch first
   erases whatever the interrupted attempt landed (the replayed batch
   covers the same dates: same offsets → same rows), then republishes.
   The final name never exposes a partial write (temp dirs start with
   ``_``, which parquet readers ignore), and no crash point can
   duplicate rows: before the move a file isn't visible, after it the
   next attempt deletes it first.
2. **Committed-batch manifest.**  After all nine tables publish, a
   marker lands at ``_batch_commits/{lineage}-{id}``; a replay that
   finds the marker skips every publish (``publish_batch``; a fast
   path only — correctness comes from piece 1).

Both keys carry a **lineage id** because ``batch_id`` is only unique
within one checkpoint lineage — the same (appId, version) pairing
Delta's idempotent ``txnAppId``/``txnVersion`` writes use.  The id is
minted once into ``{checkpoint_dir}/_etl_lineage`` and read back on
every restart, so crash-replays recognize their own files, while a
DIFFERENT checkpoint pointed at the same sink appends under its own
prefix (a visible re-ingest, the standard foreachBatch contract) —
never a silent skip on a colliding batch number.

Source offsets commit only after ``foreachBatch`` returns, so the only
replayable window is the one batch in flight.  The batch ETL's
dynamic-partition-overwrite backfill (plans/etl.py::run_etl with
date_prefix) remains the repair path for OUT-OF-ORDER arrivals, which
renumber kyoku ids (sources/tenhou_datasource.py docstring) — that is
a key-minting property, not a delivery one.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLE_SCHEMAS
from ..sources.sync import _pyarrow_resolves
from ..sources.tenhou_datasource import PARSED_TABLE, register_tenhou_source

# Bounded concurrency for per-file metadata ops (delete/move) inside
# one table's publish, and for the table publishes of one batch.  On
# an object store a "move" is a server-side
# copy+delete round-trip per file; a serial loop makes the batch
# latency floor = n_files x RTT (r7 verdict item 3).  Both pyarrow
# filesystems and the JVM Hadoop FileSystem are thread-safe.
_FILE_OP_WORKERS = 16


def _par_files(fn, items) -> None:
    """Run ``fn(item)`` over ``items`` concurrently (bounded pool),
    propagating the first failure AFTER all complete — a torn publish
    must never half-cancel: the replay erases by prefix either way."""
    items = list(items)
    if len(items) <= 1:
        for it in items:
            fn(it)
        return
    with ThreadPoolExecutor(
        max_workers=min(_FILE_OP_WORKERS, len(items))
    ) as pool:
        errs = []
        for f in [pool.submit(fn, it) for it in items]:
            try:
                f.result()
            except Exception as e:  # gather: surface after the pool drains
                errs.append(e)
        if errs:
            raise errs[0]


class _PaMetaFS:
    """Driver-side metadata ops (list/move/delete/read/write) over
    pyarrow.fs — local paths and every scheme pyarrow resolves
    natively (file://, s3://, gs://, hdfs:// with libhdfs)."""

    def __init__(self, path: str):
        import pyarrow.fs as pafs

        self._pafs = pafs
        if "://" in path:
            self.fs, self.root = pafs.FileSystem.from_uri(path)
        else:
            self.fs, self.root = pafs.LocalFileSystem(), path

    def kind(self, path: str) -> str | None:
        t = self.fs.get_file_info(path).type
        if t == self._pafs.FileType.File:
            return "file"
        if t == self._pafs.FileType.Directory:
            return "dir"
        return None

    def read_bytes(self, path: str) -> bytes:
        with self.fs.open_input_stream(path) as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        with self.fs.open_output_stream(path) as f:
            f.write(data)

    def mkdirs(self, path: str) -> None:
        self.fs.create_dir(path, recursive=True)

    def list_files(self, path: str, recursive: bool = False) -> list[str]:
        sel = self._pafs.FileSelector(path, recursive=recursive)
        return [
            fi.path
            for fi in self.fs.get_file_info(sel)
            if fi.type == self._pafs.FileType.File
        ]

    def delete_file(self, path: str) -> None:
        self.fs.delete_file(path)

    def delete_dir(self, path: str) -> None:
        self.fs.delete_dir(path)

    def move(self, src: str, dst: str) -> None:
        self.fs.move(src, dst)


class _HadoopMetaFS:
    """Same narrow interface over the JVM Hadoop FileSystem — covers
    every connector the cluster ships (s3a://, abfss://, hdfs://
    without libhdfs) that pyarrow.fs cannot resolve.  Driver-only and
    metadata-sized I/O, so the py4j hop cost is irrelevant."""

    def __init__(self, spark: SparkSession, path: str):
        self._jvm = spark._jvm
        jpath = self._jvm.org.apache.hadoop.fs.Path(path)
        self._hfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        self.root = self._hfs.makeQualified(jpath).toString()

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def kind(self, path: str) -> str | None:
        p = self._p(path)
        if not self._hfs.exists(p):
            return None
        return "file" if self._hfs.getFileStatus(p).isFile() else "dir"

    def read_bytes(self, path: str) -> bytes:
        stream = self._hfs.open(self._p(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        stream = self._hfs.create(self._p(path), True)
        try:
            stream.write(bytearray(data))
        finally:
            stream.close()

    def mkdirs(self, path: str) -> None:
        self._hfs.mkdirs(self._p(path))

    def list_files(self, path: str, recursive: bool = False) -> list[str]:
        if self.kind(path) is None:
            return []
        out = []
        it = self._hfs.listFiles(self._p(path), recursive)
        while it.hasNext():
            st = it.next()
            if st.isFile():
                # full URI string, consistent with self.root's rooting
                # (toUri().getPath() would drop scheme and authority)
                out.append(st.getPath().toString())
        return out

    def delete_file(self, path: str) -> None:
        # raise on a false return like move(): a silently-surviving
        # b{key}- leftover would duplicate rows on replay (the pyarrow
        # impl raises too)
        if not self._hfs.delete(self._p(path), False):
            raise IOError(f"delete failed: {path}")

    def delete_dir(self, path: str) -> None:
        if not self._hfs.delete(self._p(path), True):
            raise IOError(f"delete failed: {path}")

    def move(self, src: str, dst: str) -> None:
        if not self._hfs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")


def _meta_fs(spark: SparkSession, path: str):
    """Metadata-FS for the publish/commit bookkeeping: pyarrow where
    it resolves the scheme, else the JVM Hadoop connector stack (s3a,
    abfss, ... — r7 review finding: the pyarrow-only path crashed at
    startup on Hadoop-only schemes the old plain-append sink handled).

    The path is qualified through Hadoop FIRST (sync.py's discipline):
    a bare path on a cluster with ``fs.defaultFS=hdfs://nn`` must do
    its bookkeeping on HDFS — where Spark stages the parquet — not on
    the driver's local disk (r7 review finding #2)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        hfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        uri = hfs.makeQualified(jpath).toUri()
        scheme, quri = uri.getScheme(), uri.toString()
        # pyarrow's local root is the plain path (its from_uri accepts
        # both, but downstream root arithmetic wants one canonical form)
        pa_root = uri.getPath() if scheme in (None, "file") else quri
    except Exception:
        # a scheme Hadoop ships no connector for (s3:// or gs:// minus
        # their jars) — pyarrow may still resolve it natively; only if
        # BOTH fail does the _HadoopMetaFS constructor raise loudly
        pa_root = quri = path
    if _pyarrow_resolves(pa_root):
        return _PaMetaFS(pa_root)
    return _HadoopMetaFS(spark, quri)


def _lineage_id(spark: SparkSession, checkpoint_dir: str) -> str:
    """Stable per-checkpoint-lineage id, minted once into
    ``{checkpoint_dir}/_etl_lineage`` and read back on every restart —
    the ``txnAppId`` of the idempotent publish.  The id is RANDOM on
    first creation and the FILE is the sole authority afterwards: a
    moved or re-spelled checkpoint keeps recognizing its own published
    files, while a checkpoint that is DELETED and recreated at the
    same path mints a fresh id — batch numbering restarts at 0 there,
    and a path-derived id would make the old lineage's commit markers
    silently swallow the re-ingest's first batches (Delta's txnAppId
    is random per lineage for exactly this reason)."""
    import uuid

    fs = _meta_fs(spark, checkpoint_dir)
    path = f"{fs.root}/_etl_lineage"
    if fs.kind(path) == "file":
        lid = fs.read_bytes(path).decode().strip()
        if not lid:
            raise IOError(
                f"corrupt (empty) lineage file {path}: refusing to run "
                "with lineage '' — delete the file to re-mint"
            )
        return lid
    lid = uuid.uuid4().hex[:12]
    fs.mkdirs(fs.root)
    # write-to-temp + move: the final name must never hold a torn
    # write — an empty _etl_lineage read back as lineage '' would be
    # shared by every crash-minted lineage, re-creating the silent
    # marker collision the random id exists to prevent
    tmp = f"{path}.tmp-{lid}"
    fs.write_bytes(tmp, lid.encode())
    try:
        fs.move(tmp, path)
    except Exception:
        # two first-starts raced on the same fresh checkpoint and the
        # other one's move won (Hadoop rename refuses an existing
        # destination); adopt the winner below instead of proceeding
        # with a local id the file never recorded (r7 advice: two ids
        # in flight -> the loser's committed batches replay as
        # duplicates under the survivor)
        try:
            fs.delete_file(tmp)
        except Exception:
            pass
    # The FILE is the sole authority: re-read after the move so every
    # process that observes this checkpoint — including a POSIX-rename
    # loser whose own move silently overwrote the winner's id — returns
    # the persisted value, not its locally minted one.  (On an
    # overwriting-rename filesystem a read-then-overwrite interleaving
    # is still conceivable; running two queries against ONE checkpoint
    # is already forbidden by Structured Streaming itself — this
    # re-read is defense-in-depth for the crashed-and-restarted-twice
    # shape, not a license to share checkpoints.)
    winner = fs.read_bytes(path).decode().strip()
    if not winner:
        raise IOError(
            f"corrupt (empty) lineage file {path}: refusing to run "
            "with lineage '' — delete the file to re-mint"
        )
    return winner


def _publish_table_df(
    df, t: str, out_dir: str, key: str, fs, part_col: str = "dt"
) -> None:
    """Idempotent batch-keyed publish of one already-shaped table
    DataFrame (must carry the ``part_col`` partition column — ``dt``
    for the fact planes, ``cluster``/``band``/``shard``/``gate`` for
    the index streams): stage under ``_staging/``, delete any
    ``b{key}-*`` leftovers from an interrupted attempt in the target
    partitions, then move the staged files in under that batch-keyed
    prefix.  Module-level (not a closure) so the crash-replay tests
    can inject faults at the table boundary; ``fs`` is the batch's
    shared metadata FS (constructing one per table would re-run scheme
    resolution ~10x per batch on a remote store)."""
    staging = f"{out_dir}/_staging/batch-{key}/{t}"
    (
        df.write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(staging)
    )
    s_root = f"{fs.root}/_staging/batch-{key}/{t}"
    staged = [
        p
        for p in fs.list_files(s_root, recursive=True)
        if f"/{part_col}=" in p
        and not p.rsplit("/", 1)[1].startswith(("_", "."))
    ]
    prefix = f"b{key}-"
    # partition dirs this batch touches (replay touches the same set:
    # identical offsets -> identical rows -> identical dt values)
    dt_dirs = sorted({p[len(s_root) + 1:].rsplit("/", 1)[0] for p in staged})
    leftovers: list[str] = []
    for d in dt_dirs:
        target_dir = f"{fs.root}/{t}/{d}"
        fs.mkdirs(target_dir)
        leftovers += [
            p
            for p in fs.list_files(target_dir)
            if p.rsplit("/", 1)[1].startswith(prefix)
        ]
    # Two strictly ordered phases, each internally concurrent: ALL
    # interrupted-attempt leftovers are erased before ANY staged file
    # moves in (a replay re-stages the same file NAMES, so a delete
    # racing its own re-publish on one path would un-publish it).
    _par_files(fs.delete_file, leftovers)

    def _mv(p: str) -> None:
        rel = p[len(s_root) + 1:]
        d, base = rel.rsplit("/", 1)
        fs.move(p, f"{fs.root}/{t}/{d}/{prefix}{base}")

    _par_files(_mv, staged)
    fs.delete_dir(s_root)


def publish_batch(
    spark, out_dir: str, key: str, table_dfs: dict, part_col: str = "dt"
) -> bool:
    """Replay-idempotent publish of one micro-batch: the batch-keyed
    staged publish of every table in ``table_dfs`` (name -> DataFrame
    with a ``part_col`` partition column) followed by the
    ``_batch_commits/{key}`` marker.  Returns False (a no-op) when the
    marker already exists — the batch fully published before a crash.
    This is the foreachBatch sink discipline shared by run_etl_stream,
    streaming/ingest.py and the index/admission streams
    (streaming/ann_index_stream.py); ``key`` must embed a
    per-checkpoint lineage id (``_lineage_id``) so distinct
    checkpoints never collide on batch numbers."""
    fs = _meta_fs(spark, out_dir)
    marker = f"{fs.root}/_batch_commits/{key}"
    if fs.kind(marker) is not None:
        return False
    # Publish the tables concurrently (same bounded-pool fanout as the
    # batch ETL's nine sinks, plans/etl.py): each publish is an
    # independent Spark write job + metadata moves; serial publishes
    # paid n_tables job-latency floors per micro-batch (r7 verdict
    # item 3).  The marker write stays strictly AFTER every table
    # lands — a failure in any one withholds it, and the whole batch
    # replays (erase-before-republish makes that idempotent).
    _par_files(
        lambda item: _publish_table_df(
            item[1], item[0], out_dir, key, fs, part_col
        ),
        table_dfs.items(),
    )
    bdir = f"{fs.root}/_staging/batch-{key}"
    if fs.kind(bdir) is not None:
        fs.delete_dir(bdir)
    fs.mkdirs(f"{fs.root}/_batch_commits")
    fs.write_bytes(marker, b"")
    return True


def run_etl_stream(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    compat: bool = True,
    available_now: bool = True,
):
    """Start (and return) the streaming ETL query.

    ``available_now=True`` drains everything currently in ``log_dir``
    and stops — the incremental-daily-run shape; ``False`` leaves a
    standing micro-batch query watching for new files.
    """
    register_tenhou_source(spark)
    lineage = _lineage_id(spark, checkpoint_dir)
    parsed = (
        spark.readStream.format("tenhou")
        .option("table", PARSED_TABLE)
        .option("compat", str(compat).lower())
        .load(log_dir)
    )

    def fan_out(batch_df, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            # materialize the cache ONCE before the concurrent fanout so
            # the nine publish jobs don't race to fill it (the batch
            # ETL's bookkeeping aggregate plays the same role,
            # plans/etl.py)
            batch_df.count()
            publish_batch(
                batch_df.sparkSession,
                out_dir,
                f"{lineage}-{batch_id}",
                {
                    t: batch_df.select("dt", F.explode(t).alias("r")).select(
                        "dt", "r.*"
                    )
                    for t in TABLE_SCHEMAS
                },
            )
        finally:
            batch_df.unpersist()

    return start_foreach_batch(parsed, fan_out, checkpoint_dir, available_now)


def start_foreach_batch(stream, fn, checkpoint_dir: str, available_now: bool):
    """Start ``stream``'s ``foreachBatch(fn)`` writer on its checkpoint
    — AvailableNow (drain what is there, then stop) or a standing
    micro-batch query.  The one writer start-up every publishing
    stream shares."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
