"""Fingerprinted signature checkpoint + anti-join resume.

The table-scale re-expression of the reference's SQLite hash cache
(ref cache.py): skip re-computing signatures for rows unchanged since the
last run, invalidate everything when dedup semantics change, prune vanished
rows, commit atomically.

Mapping (SURVEY.md §3.3):
- settings fingerprint (ref cache.py:103-109)  -> DedupConfig.signature_fingerprint,
  stored in the manifest; mismatch wipes the checkpoint;
- stale key (size, mtime_ns) (ref cache.py:64-69) -> sha2(concat(n_chars, warc_ts)) —
  recompute when a row's cheap metadata changed;
- the `uncached()` generator (ref deduplicate.py:869-886) -> LEFT ANTI join of
  the snapshot against the checkpoint on (url, stale_key);
- prune of vanished mails (ref cache.py:348-393) -> anti-join of checkpoint
  against current snapshot keys;
- single-transaction commit (ref cache.py:399-416) -> write to a temp dir +
  atomic rename (parquet + manifest json; the Iceberg-snapshot analog — no
  Iceberg jars in this sandbox).

This is also the resume mechanism: a run killed after the signature stage
restarts and restores every already-signed row without recompute.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .config import DedupConfig
from .crosscorpus import old_side_dims
from .minhash import minhash_family
from .normalize import content_hash_expr
from .simhash import SIMHASH
from .sources import read_parquet
from .tokenhash import token_signatures

MANIFEST = "_manifest.json"
DATA_DIR = "data"
LOCK = "_commit.lock"
LOCK_STALE_S = 3600.0  # a lock older than this is a crashed writer's corpse
# The persisted cross dims: crosscorpus.old_side_dims name -> dir prefix.
CROSS_DIMS = {"exact_dim": "exactdim", "bands": "bands",
              "band_stats": "bandstats"}


class ConcurrentCommitError(RuntimeError):
    """A second writer tried to commit while another commit was in flight.

    The reference locks boxes for the whole run (ref mail_box.py:424-445);
    without this, two concurrent commits would silently last-win on the
    manifest swap and orphan the loser's data dir."""


@dataclasses.dataclass(frozen=True)
class ResumeMetrics:
    """Counters for one checkpointed signature run (the table-scale analog of
    the reference's per-run cache statistics, ref cache.py:292-346 /
    deduplicate.py:750-767 logging): how much work the checkpoint saved.

    - ``reused``:     rows restored from the checkpoint without recompute;
    - ``recomputed``: rows signed fresh (new url, or stale_key changed);
    - ``pruned``:     checkpoint rows whose url vanished from the snapshot
                      (dropped on commit, ref cache.py:348-393);
    - ``total``:      rows in the committed snapshot (= reused + recomputed).

    Durable: the commit writes these into the manifest, so an operator can
    audit any past run's hit rate without re-running it."""

    reused: int
    recomputed: int
    pruned: int
    total: int

    def to_dict(self) -> dict:
        return dataclasses.asdict(self)


def stale_key_col(full: bool = False) -> F.Column:
    """Cheap change-detection key per row (ref StaleKey cache.py:64-69):
    derived from text length + warc_ts + a crc32 of a fixed-length edge
    sample, NOT a full-text hash — detecting a changed row must stay cheap.

    The edge sample closes the gap vs the reference's OS-maintained mtime_ns
    (which we don't have: warc_ts is just a data column): a same-length text
    edit that leaves warc_ts alone would otherwise silently reuse stale
    checkpointed signatures. Length + first/last 64 chars catches everything
    but an interior same-length edit with untouched edges — documented
    residual risk, same class as an mtime-preserving edit in the reference.

    ``full=True`` (cfg.stale_key_full) opts into a full-text sha2 key instead:
    no blind spot at the cost of hashing every byte per run — for users who
    prefer correctness over cheap change detection. Both variants are
    versioned into the settings fingerprint (config.STALE_KEY_VERSION /
    stale_key_full), so switching wipes the checkpoint explicitly rather than
    silently missing every join key.
    """
    if full:
        return F.sha2(
            F.concat_ws(
                "|",
                F.coalesce(F.col("text"), F.lit("\x00missing")),
                F.coalesce(F.col("warc_ts").cast("string"), F.lit("null")),
            ),
            256,
        )
    sample = F.concat(
        F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 64),
        F.substring(F.coalesce(F.col("text"), F.lit("")), -64, 64),
    )
    return F.sha2(
        F.concat_ws(
            "|",
            F.coalesce(F.length("text"), F.lit(-1)).cast("string"),
            F.crc32(F.encode(sample, "utf-8")).cast("string"),
            F.coalesce(F.col("warc_ts").cast("string"), F.lit("null")),
        ),
        256,
    )


def _footer_lineage(data_dir: str) -> list[dict]:
    """One entry per non-empty parquet file under ``data_dir``, sorted by
    file name: its row count and url range, read on the driver from the
    file footers — no Spark job. Parquet leaves min/max out of a row
    group's statistics when they are long (min plus max of 4 KiB or more);
    such a file's range is taken from its own ``url`` column instead."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(data_dir)):
        if name.startswith(("_", ".")):  # _SUCCESS, .crc: not data files
            continue
        path = os.path.join(data_dir, name)
        meta = pq.read_metadata(path)
        if meta.num_rows == 0:
            continue
        col = next(j for j in range(meta.num_columns)
                   if meta.schema.column(j).path == "url")
        stats = [meta.row_group(i).column(col).statistics
                 for i in range(meta.num_row_groups)
                 if meta.row_group(i).num_rows]
        if all(st is not None and st.has_min_max for st in stats):
            lo, hi = min(st.min for st in stats), max(st.max for st in stats)
        else:
            mm = pc.min_max(pq.read_table(path, columns=["url"])["url"])
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
        out.append({"file": name, "rows": meta.num_rows,
                    "url_min": lo, "url_max": hi})
    return out


def compute_signatures(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, stale_key, content_hash, minhash, simhash) for every row: the
    JVM keys ride through one token kernel that signs both families."""
    keyed = pages.select(
        "url", stale_key_col(full=cfg.stale_key_full).alias("stale_key"),
        content_hash_expr(cfg).alias("content_hash"), "text")
    return token_signatures(
        keyed, minhash_family(cfg), SIMHASH).drop("n_shingles")


class SignatureCheckpoint:
    """Parquet + manifest checkpoint with atomic replace."""

    def __init__(self, path: str):
        self.path = path

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def read_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _read(self, spark: SparkSession, manifest: dict,
              key: str) -> DataFrame:
        """The table ``manifest[key]`` names, opened under the schema the
        commit recorded for it (no Spark job). A manifest written before
        schemas were recorded falls back to inference."""
        schema = manifest.get("schemas", {}).get(key)
        return read_parquet(spark, os.path.join(self.path, manifest[key]),
                            StructType.fromJson(schema) if schema else None)

    def load(self, spark: SparkSession, cfg: DedupConfig) -> DataFrame | None:
        """Checkpoint rows, or None when absent/fingerprint-mismatched
        (settings change wipes, ref cache.py:232-246). Starts no Spark
        job."""
        manifest = self.read_manifest()
        if manifest is None:
            return None
        if manifest.get("fingerprint") != cfg.signature_fingerprint():
            return None
        return self._read(spark, manifest, "data")

    # -- writer lock ---------------------------------------------------------
    def _lock_path(self) -> str:
        return os.path.join(self.path, LOCK)

    def _lock_age(self) -> float:
        """Age of the current lockfile in seconds (observation point —
        deliberately a method so the two-breakers race test can feed one
        writer a stale observation while the breaker re-validates live)."""
        return time.time() - os.path.getmtime(self._lock_path())

    def _break_stale_lock(self) -> None:
        """Remove a crashed writer's lock corpse — TOCTOU-safe.

        The naive stat-then-unlink break races: two writers that both observe
        a stale lock can both unlink, the second deleting the FRESH lock the
        first just re-created, letting both proceed and interleave commit+GC.
        Fix: all breaking is serialized through an flock'd breaker mutex, and
        staleness is RE-VALIDATED under that mutex before the unlink — a
        fresh lock re-stats young and survives. flock is kernel-held and
        auto-released on process death, so the breaker mutex itself cannot
        go stale. (On stores without flock semantics — object stores, some
        NFS — run one writer per checkpoint path or use an Iceberg catalog's
        transactional commit instead.)"""
        import fcntl

        with open(self._lock_path() + ".breaker", "a") as bf:
            fcntl.flock(bf, fcntl.LOCK_EX)
            try:
                # Live re-stat under the mutex (NOT self._lock_age): only a
                # lock that is still stale now may be unlinked.
                age = time.time() - os.path.getmtime(self._lock_path())
                if age > LOCK_STALE_S:
                    os.unlink(self._lock_path())
            except FileNotFoundError:
                pass
            finally:
                fcntl.flock(bf, fcntl.LOCK_UN)

    def _acquire_lock(self) -> str:
        """O_EXCL lockfile so two writers cannot interleave the
        write-data/swap-manifest/GC sequence (ref mail_box.py:424-445 locks
        boxes for the run). Local-FS/HDFS-style guard; an Iceberg deployment
        would get this from the table format's transactional commit. A lock
        older than LOCK_STALE_S is treated as a crashed writer's corpse and
        broken (see _break_stale_lock for the race-safety argument).
        Returns the owner token written into the lockfile; release validates
        it so a writer whose lock was broken mid-commit can never unlink a
        successor's lock."""
        token = uuid.uuid4().hex
        for _ in range(3):
            try:
                fd = os.open(self._lock_path(),
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {os.getpid()} {time.time()}\n".encode())
                os.close(fd)
                return token
            except FileExistsError:
                try:
                    age = self._lock_age()
                except FileNotFoundError:
                    continue  # holder just released — retry the O_EXCL
                if age > LOCK_STALE_S:
                    self._break_stale_lock()
                    continue
                raise ConcurrentCommitError(
                    f"another commit holds {self._lock_path()} "
                    f"(age {age:.0f}s); concurrent checkpoint writers are "
                    f"not allowed — retry after the other run finishes")
        raise ConcurrentCommitError(
            f"could not acquire {self._lock_path()} after retries")

    def _release_lock(self, token: str) -> None:
        try:
            with open(self._lock_path()) as fh:
                owner = fh.read().split(" ", 1)[0]
            if owner != token:
                return  # our lock was stale-broken; the path now belongs
                # to a successor — never unlink someone else's lock
            os.unlink(self._lock_path())
        except FileNotFoundError:
            pass

    def _gc_orphans(self, keep_dirs: set[str]) -> None:
        """Remove data/dim dirs not referenced by the manifest — a crashed
        or lost-race writer's leftovers. Only ever called under the lock."""
        prefixes = tuple(f"{p}-" for p in (DATA_DIR, *CROSS_DIMS.values()))
        for name in os.listdir(self.path):
            if (name.startswith(prefixes) and name not in keep_dirs
                    and os.path.isdir(os.path.join(self.path, name))):
                shutil.rmtree(os.path.join(self.path, name),
                              ignore_errors=True)

    def commit(
        self,
        signatures: DataFrame,
        cfg: DedupConfig,
        metrics_fn=None,
        input_files: list[str] | None = None,
        cross_dims: bool = False,
    ) -> None:
        """Atomic replace: write parquet to a fresh dir, then swap the
        manifest pointer (the one-transaction property, ref cache.py:399-416).
        The whole sequence runs under the writer lock: a second concurrent
        commit raises ConcurrentCommitError instead of silently last-winning
        and orphaning a data dir.

        The manifest records per-partition lineage alongside the pointer:
        one row per committed parquet file with its row count and url range
        (``_footer_lineage``: read from the just-written files' footers on
        the driver, no Spark job), plus the distinct source files that fed
        the snapshot and the run's ResumeMetrics. That makes a resume
        auditable offline: which inputs produced which partitions, and how
        much the checkpoint saved. It also records each written table's
        schema under ``schemas``, so ``load``, ``load_cross_dims`` and the
        commit's own re-read open the tables without an inference job:
        apart from what ``metrics_fn`` runs, the commit's only Spark jobs
        are its writes.

        ``cross_dims=True`` additionally persists
        ``crosscorpus.old_side_dims`` of the committed table — the exact,
        band and band-stats dims dedup_against reads from the OLD side of
        an incremental run — one ``<prefix>-<tag>`` dir each (``CROSS_DIMS``),
        so warm runs do ZERO old-side aggregations (the reference's cache
        stores exactly what makes re-runs cheap, ref cache.py:175-184,
        docs/performance.md:111). The one-time cost rides the commit
        (aggregations over the just-written signature table, metadata-scale
        vs the corpus); a monthly incremental against a 100-TB old corpus
        then never re-shuffles the old side."""
        os.makedirs(self.path, exist_ok=True)
        token = self._acquire_lock()
        try:
            new_dir = f"{DATA_DIR}-{uuid.uuid4().hex[:12]}"
            signatures.write.mode("overwrite").parquet(
                os.path.join(self.path, new_dir))
            partitions = _footer_lineage(os.path.join(self.path, new_dir))
            # metrics_fn runs AFTER the write job (its Observations are
            # filled by that job) and BEFORE the manifest swap, so metrics
            # and data pointer land in one atomic rename.
            metrics = metrics_fn() if metrics_fn is not None else None
            manifest = {
                "fingerprint": cfg.signature_fingerprint(),
                "data": new_dir,
                "config": cfg.to_dict(),
                "committed_at": time.time(),
                "partitions": partitions,
                "total_rows": sum(p["rows"] for p in partitions),
                "schemas": {"data": signatures.schema.jsonValue()},
            }
            keep = {new_dir}
            if cross_dims:
                committed = self._read(
                    signatures.sparkSession, manifest, "data")
                tag = uuid.uuid4().hex[:12]
                for name, dim in old_side_dims(committed, cfg).items():
                    manifest[name] = f"{CROSS_DIMS[name]}-{tag}"
                    manifest["schemas"][name] = dim.schema.jsonValue()
                    dim.write.mode("overwrite").parquet(
                        os.path.join(self.path, manifest[name]))
                    keep.add(manifest[name])
                # The banding layout is NOT part of signature_fingerprint
                # (signatures survive a re-banding), but the persisted
                # bands-*/bandstats-* dims are sliced by it — record it so
                # load_cross_dims can refuse dims built under a different
                # (b, r) instead of silently joining mismatched slices.
                manifest["banding"] = {
                    "lsh_bands": cfg.lsh_bands, "lsh_rows": cfg.lsh_rows}
            if metrics is not None:
                manifest["metrics"] = metrics.to_dict()
            if input_files:
                manifest["input_files"] = sorted(input_files)
            tmp = self._manifest_path() + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=2, default=str)
            os.replace(tmp, self._manifest_path())
            self._gc_orphans(keep_dirs=keep)
        finally:
            self._release_lock(token)

    def load_cross_dims(
        self, spark: SparkSession, cfg: DedupConfig,
    ) -> dict[str, DataFrame] | None:
        """The persisted ``crosscorpus.old_side_dims`` frames, keyed as
        ``CROSS_DIMS``, for crosscorpus.dedup_against, or None when
        the checkpoint is absent, fingerprint-mismatched, was committed
        without ``cross_dims=True``, or was banded under a different
        (lsh_bands, lsh_rows) layout. The banding guard is separate from
        the signature fingerprint on purpose: num_perm/seed changes wipe
        the signatures themselves (fingerprint), but a re-banding (e.g.
        lsh_bands 16 -> 8 with num_perm fixed) keeps the signatures valid
        while making the persisted band dims slice-incompatible — joining
        them would silently report near-dups as unique, so the dims (and
        only the dims) are refused and the caller re-derives per run.
        Starts no Spark job."""
        manifest = self.read_manifest()
        if manifest is None:
            return None
        if manifest.get("fingerprint") != cfg.signature_fingerprint():
            return None
        if not all(name in manifest for name in CROSS_DIMS):
            return None
        banding = manifest.get("banding")
        if banding is None:
            # Legacy manifest (committed before banding was recorded):
            # the layout the dims were banded under is unknown, so they
            # cannot be trusted — but say so instead of silently
            # re-deriving every run on an otherwise-valid checkpoint.
            import warnings
            warnings.warn(
                f"checkpoint {self.path}: manifest predates banding "
                "metadata; cross dims will be re-derived (re-commit with "
                "cross_dims=True to refresh)", stacklevel=2)
            return None
        if banding != {"lsh_bands": cfg.lsh_bands,
                       "lsh_rows": cfg.lsh_rows}:
            return None
        return {name: self._read(spark, manifest, name)
                for name in CROSS_DIMS}

    def lineage(self) -> list[dict]:
        """Per-partition lineage of the committed snapshot: one entry per
        parquet file with rows + url range. Empty when no commit exists."""
        manifest = self.read_manifest()
        return list(manifest.get("partitions", [])) if manifest else []

    def last_metrics(self) -> ResumeMetrics | None:
        """ResumeMetrics of the last committed run, or None."""
        manifest = self.read_manifest()
        if not manifest or "metrics" not in manifest:
            return None
        return ResumeMetrics(**manifest["metrics"])


def signatures_with_checkpoint(
    pages: DataFrame, cfg: DedupConfig, checkpoint_path: str,
    commit: bool = True, cross_dims: bool = False,
) -> DataFrame:
    """Signature table for ``pages``, reusing checkpointed rows.

    - hit  (url + stale_key match): restored without recompute
      (ref restore_cached deduplicate.py:750-767);
    - miss (new url or changed stale_key): recomputed
      (the ``uncached`` anti-join, ref deduplicate.py:869-886);
    - vanished (in checkpoint, not in snapshot): pruned on commit
      (ref cache.py:348-393).

    With ``commit=True`` the returned frame READS THE COMMITTED PARQUET:
    the write is the single materialization of the signature computation and
    the parquet files are the durable copy — on a real cluster a
    localCheckpoint-backed return frame would die with a lost executor
    mid-downstream even though the commit succeeded (verdict r2 #4).

    With ``commit=True`` the manifest also records ResumeMetrics (reused /
    recomputed / pruned counts) and per-partition lineage. The reused and
    recomputed counters ride the commit's own write job as Observations —
    zero extra jobs for those two. The pruned count DOES cost one extra job
    on a warm commit (a url-only anti-join count over the old snapshot's
    keys), which is why it never runs when ``commit=False``. Lineage costs
    no job: the source files come from the plan's file index
    (``DataFrame.inputFiles``, a driver-side listing) and the per-file rows
    and url ranges from the committed files' footers. Read them back via
    ``SignatureCheckpoint(path).last_metrics()`` / ``.lineage()``.

    ``cross_dims=True`` (commit path only) additionally persists the
    old-side dims for crosscorpus.dedup_against — see
    SignatureCheckpoint.commit.
    """
    spark = pages.sparkSession
    ckpt = SignatureCheckpoint(checkpoint_path)
    cached = ckpt.load(spark, cfg)

    keyed = pages.withColumn(
        "stale_key", stale_key_col(full=cfg.stale_key_full))
    tag = uuid.uuid4().hex[:8]
    obs_hit = Observation(f"ckpt_reused_{tag}")
    obs_fresh = Observation(f"ckpt_recomputed_{tag}")
    if cached is None:
        fresh = compute_signatures(pages, cfg).observe(
            obs_fresh, F.count(F.lit(1)).alias("n"))
        result = fresh
        hits = None
    else:
        hits = keyed.select("url", "stale_key").join(
            cached, ["url", "stale_key"], "inner").observe(
                obs_hit, F.count(F.lit(1)).alias("n"))
        miss_rows = keyed.join(
            cached.select("url", "stale_key"), ["url", "stale_key"],
            "left_anti")
        fresh = compute_signatures(miss_rows.drop("stale_key"), cfg).observe(
            obs_fresh, F.count(F.lit(1)).alias("n"))
        result = hits.unionByName(fresh)

    def _count_pruned() -> int:
        # Vanished rows: in the old snapshot, url no longer present. Counted
        # over the two key columns only (column pruning keeps this cheap even
        # when the signature payload is wide). Only ever run on the commit
        # path — the metric is recorded in the manifest and unused otherwise,
        # so a non-commit call must not pay this extra Spark job.
        if cached is None:
            return 0
        return cached.select("url").join(
            keyed.select("url"), "url", "left_anti").count()

    if commit:
        # The parquet write IS the one materialization of the signature
        # computation; re-reading the committed files gives the caller a
        # durable frame for free (no executor-storage blocks to lose, no
        # second compute). Source-file lineage comes from the plan's file
        # index metadata (DataFrame.inputFiles) — a driver-side listing,
        # zero Spark jobs, vs the input_file_name().distinct() row scan it
        # replaces which re-read the whole corpus on every commit. The
        # listing covers every file of the source relations (including
        # ones a pushed filter would skip), which is the right lineage
        # notion: which files FED the snapshot definition. Empty for
        # non-file-backed inputs (e.g. in-memory tests).
        input_files = [f for f in pages.inputFiles() if f]

        def _metrics() -> ResumeMetrics:
            n_reused = int(obs_hit.get["n"]) if hits is not None else 0
            n_fresh = int(obs_fresh.get["n"])
            return ResumeMetrics(
                reused=n_reused, recomputed=n_fresh,
                pruned=_count_pruned(), total=n_reused + n_fresh)

        ckpt.commit(result, cfg, metrics_fn=_metrics,
                    input_files=input_files, cross_dims=cross_dims)
        committed = ckpt.load(spark, cfg)
        assert committed is not None  # we just wrote this fingerprint
        return committed
    return result
