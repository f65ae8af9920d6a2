"""Row sinks: the reference's action verbs over parquet tables.

Ref action.py routes a verb over the selected or discarded subset
(ref action.py:312-339). Table-scale mapping (SURVEY.md §2.1):

- copy-*   : write the subset to a new table          (ref copy_mails action.py:75-92)
- move-*   : copy + delete from source                (ref move_mails action.py:94-117)
- delete-* : rewrite the source without the subset    (ref delete_mails action.py:120-136)
- hardlink : no FS analog at table scale -> **pointer dedup**: keep one text
             per cluster, rewrite duplicates as (url -> kept_url) reference
             rows (ref hardlink_mails action.py:215-265)
- dry-run  : compute everything, write nothing        (ref action.py:66-72)

Writers return the row count they acted on so stats accounting can assert
MAIL_COPIED/MOVED/DELETED identities (ref deduplicate.py:1369-1390).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from .groupagg import with_group_stats
from .pipeline import in_selection

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]

ACTIONS = (
    "copy-selected", "copy-discarded",
    "move-selected", "move-discarded",
    "delete-selected", "delete-discarded",
    "hardlink-discarded",
)


def _in_subset(action: str) -> Column:
    if action.endswith("-discarded"):
        return F.col("status") == "discarded"
    return in_selection()


def _subset(final: DataFrame, action: str) -> DataFrame:
    return final.filter(_in_subset(action))


def perform(final: DataFrame, action: str, out_path: str | None = None,
            dry_run: bool = False, pages: DataFrame | None = None,
            fmt: str = "parquet", append: bool = False,
            hardlink_differing: bool = False,
            source_out_path: str | None = None) -> dict:
    """Route an action verb (ref action.py:312-339). Returns counts.

    The pipeline dehydrates the payload column (html) from its working set;
    pass the source ``pages`` frame to re-hydrate written rows by url
    (ref hydrate, mail.py:264-294). Without it, the payload column is omitted.

    ``fmt`` selects the export format (parquet|json|csv — the table-scale
    subset of the reference's 6 box formats, ref mail_box.py:490-511);
    ``append=True`` appends to an existing export instead of replacing it
    (ref --export-append, cli.py:501 / create_box append mode);
    ``hardlink_differing`` lets pointer dedup link byte-differing duplicates
    (ref --hardlink-differing, action.py:156-192).

    ``source_out_path`` completes move-* end-to-end: the reference's move is
    copy + delete-from-source in one verb (ref move_mails action.py:94-117);
    at table scale the 'delete' half is the rewritten source (we never mutate
    the input path in place — snapshot semantics), written here as
    final-minus-moved. Required for move-*.

    One execution per action: the pipeline hands back ``final`` lazily
    cached (pipeline._group_and_select), so the write reads the tail the
    verb's report already computed, and the acted-on count is observed on
    the write job itself — a dry run counts in one job of its own.
    """
    if action not in ACTIONS:
        raise ValueError(f"unknown action: {action!r}")
    verb = action.split("-")[0]
    if verb == "move" and not source_out_path and not dry_run:
        raise ValueError(
            f"{action} requires source_out_path: move = copy + rewritten "
            f"source in one verb (ref move_mails action.py:94-117)")
    if dry_run:
        return {"action": action, "count": _subset(final, action).count(),
                "written": False}
    if not out_path:
        raise ValueError(f"{action} requires out_path")

    if verb == "hardlink":
        # pointer_dedup self-joins `final` (the kept-row lookup is joined
        # back onto every row), so no one frame of its plan reads `final`
        # once to carry an observation: count the cached `final` instead.
        count = _subset(final, action).count()
        _write(pointer_dedup(final, allow_differing=hardlink_differing),
               out_path, fmt, append)
        return {"action": action, "count": count, "written": True}

    in_subset = _in_subset(action)

    def export(rows: DataFrame, path: str, append: bool,
               observation: Observation | None = None,
               keep: Column | None = None) -> None:
        if "html" not in rows.columns and pages is not None:
            rows = rows.join(pages.select("url", "html"), "url", "left")
        if observation is not None:
            # Above every join: AQE drops a join side it finds empty, and an
            # observation under it with it (Observation.get then fails).
            rows = rows.observe(observation,
                                F.count_if(in_subset).alias("count"))
        if keep is not None:
            rows = rows.filter(keep)
        _write(rows.select(*[c for c in PAGE_COLS if c in rows.columns]),
               path, fmt, append)

    # copy/move write the subset; delete, and move's rewritten source (the
    # delete half, ref move_mails = copy + delete, action.py:94-117), write
    # the rest of `final`. A rewritten source is a full snapshot, never
    # appended.
    observed = Observation()
    if verb == "delete":
        export(final, out_path, append, observed, keep=~in_subset)
    else:
        export(_subset(final, action), out_path, append, observed)
        if verb == "move":
            export(final, source_out_path, False, keep=~in_subset)
    return {"action": action, "count": observed.get["count"],
            "written": True}


EXPORT_FORMATS = ("parquet", "json", "csv", "table")


def _write(df: DataFrame, out_path: str, fmt: str, append: bool) -> None:
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"unknown export format: {fmt!r} "
                         f"(one of {EXPORT_FORMATS})")
    mode = "append" if append else "overwrite"
    if fmt == "table":
        # Catalog-table sink via the DataFrameWriterV2 API: against an
        # Iceberg catalog this is an Iceberg snapshot commit (the ref's
        # one-transaction export, mail_box.py:490-511); against the builtin
        # catalog it is an atomic table swap. out_path is a table
        # identifier, not a filesystem path.
        from pyspark.errors import AnalysisException

        try:
            if append and df.sparkSession.catalog.tableExists(out_path):
                df.writeTo(out_path).append()
            else:
                df.writeTo(out_path).createOrReplace()
        except AnalysisException as exc:
            # The builtin V2SessionCatalog lacks atomic REPLACE TABLE AS
            # SELECT and rejects V2 appends into V1-provider tables
            # (Iceberg supports both); fall back to the V1 writer there.
            # Match on the structured error class first (advice r3: message
            # substrings are wording-fragile across Spark versions), with the
            # substring test as the fallback for errors that carry no class.
            err_class = ""
            for probe in ("getCondition", "getErrorClass"):  # 4.x name first
                get_cls = getattr(exc, probe, None)
                if callable(get_cls):
                    err_class = get_cls() or ""
                    break
            v1_fallback = (
                err_class.startswith("UNSUPPORTED_FEATURE")
                or "UNSUPPORTED_FEATURE" in str(exc)
                or "v1 table" in str(exc)
            )
            if not v1_fallback:
                raise
            df.write.mode(mode).saveAsTable(out_path)
        return
    if fmt == "csv":
        # CSV has no binary cells: payload travels base64-encoded (the json
        # writer base64s binary natively).
        for f_ in df.schema.fields:
            if f_.dataType.typeName() == "binary":
                df = df.withColumn(f_.name, F.base64(F.col(f_.name)))
        df.write.mode(mode).option("header", True).csv(out_path)
    else:
        getattr(df.write.mode(mode), fmt)(out_path)


def pointer_dedup(final: DataFrame,
                  allow_differing: bool = False) -> DataFrame:
    """(url, kept_url, is_canonical, blocked_differing): each discarded row
    points at the deterministic min-url kept row of its set — the table
    analog of replacing a file with a hardlink to the kept copy (link target
    = min kept mail, ref deduplicate.py:1140-1170, min at :1168).
    Sharded groupBy + join-back (groupagg), never a single-task WindowExec —
    a mega-set's kept-row lookup is map-side combined and AQE-splittable.

    Reference parity: hardlinking a duplicate whose BYTES differ from the
    kept copy is refused unless ``--hardlink-differing`` (hardlink_blocker,
    ref action.py:156-192) — here byte-identity is equal ``raw_hash``.
    Blocked rows keep their own url (the row stays as-is, like the file the
    reference leaves untouched) and are flagged ``blocked_differing``;
    they are NOT ``is_canonical`` — a blocked row self-points but is still a
    duplicate, so consumers selecting ``is_canonical`` get exactly one kept
    copy per set, never a refused duplicate riding along."""
    pool = final.filter(F.col("status").isin("unique", "selected", "discarded"))
    # min over struct(url, raw_hash) orders by url first: yields the kept
    # row's url AND its raw hash in one aggregation pass.
    joined = with_group_stats(pool, "cluster_key", [
        F.min(
            F.when(F.col("status").isin("unique", "selected"),
                   F.struct(F.col("url"), F.col("raw_hash")))
        ).alias("_pd_kept"),
    ])
    kept = F.col("_pd_kept")
    same_bytes = F.col("raw_hash") == kept["raw_hash"]
    linkable = (
        F.lit(allow_differing)
        | F.coalesce(same_bytes, F.lit(False))
        | kept["url"].isNull()
    )
    kept_url = F.when(linkable, F.coalesce(kept["url"], F.col("url"))) \
        .otherwise(F.col("url"))
    blocked = ~linkable & (F.col("url") != F.coalesce(kept["url"], F.col("url")))
    return (
        joined
        .withColumn("kept_url", kept_url)
        .withColumn("blocked_differing", blocked)
        .withColumn(
            "is_canonical",
            (F.col("url") == F.col("kept_url")) & ~F.col("blocked_differing"),
        )
        .select("url", "kept_url", "is_canonical", "blocked_differing")
    )
