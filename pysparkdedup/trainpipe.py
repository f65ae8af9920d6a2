"""End-to-end training-data pipeline: curation pass -> tiered dedup.

The single-verb composition of the two heaviest verbs in this engine —
``curate.curate_pages`` (Gopher repetition filter -> CCNet boilerplate ->
Dolma keep-first paragraph dedup -> PII redaction) feeding
``tiers.tiered_dedup`` (exact -> MinHash-near -> embedding-semantic) —
the full pass a web crawl takes on its way into a training set. The
composition ORDER is deliberate and matches the public pipelines the
stages come from: curation first, because it REWRITES text (boilerplate
and PII placeholders), and dedup must key on the text that will actually
be trained on — two pages differing only in removed boilerplate are
exact duplicates after curation but near-misses before it.

Scale notes (100 TB):

- The curated frame is materialized exactly once before the cascade.
  ``tiered_dedup`` re-derives each tier's survivor pool by anti-joining
  the input frame against slim loser maps (the right call when the input
  is a parquet scan), which means it consumes its input ~4x — and here
  the input's lineage is the whole curation DAG. Without a barrier the
  curation pass would re-execute per consumer (Spark has no DAG-level
  CSE; the same reasoning as curate.py's internal persists).
- ``staging_path`` picks the materialization: a durable parquet
  write + re-read when given (the 100-TB pattern — the curated corpus is
  itself a user deliverable, the write is one linear pass, and the
  cascade's repeated consumption becomes column-pruned parquet scans
  that never hold the corpus in executor storage), else
  ``localCheckpoint`` (executor-local blocks; fine at benchmark scale,
  lost on executor death).
- Docs dropped by the curation filter never enter the cascade (they are
  not in the ledger at all); docs dropped by a tier appear with their
  tier and final representative. ``surviving_docs`` joins the two
  outputs into the final deduped, curated corpus.

Reference: the composition is the analog of running the reference's
whole-verb pipeline (dedup -> select -> action, ref deduplicate.py:892-956)
as one job; the curation stages themselves come from the public
web-curation literature (see curate.py, tiers.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DedupConfig
from .tiers import TIER_KEPT


def curate_and_dedup(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    *,
    emb: DataFrame | None = None,
    emb_threshold: float = 0.95,
    emb_kwargs: dict | None = None,
    curate_kwargs: dict | None = None,
    id_col: str = "url",
    text_col: str = "text",
    staging_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the curation pass, materialize its output once, then the tiered
    dedup cascade over the CURATED text. Returns ``(curated, ledger)``:

    - ``curated`` -- the curated corpus (curate_pages output schema; the
      frame is post-materialization, so downstream consumers never
      re-execute the curation DAG);
    - ``ledger``  -- the (url, tier, kept_by) dedup ledger over curated
      docs (tiers.tiered_dedup semantics: chain-resolved, min-url
      winners, byte-identical across parallelism).

    ``curate_kwargs`` feed curate_pages (all stages default OFF there);
    ``emb``/``emb_threshold``/``emb_kwargs`` feed the semantic tier.
    ``staging_path`` (durable parquet) vs localCheckpoint — see module
    docstring.
    """
    from .components import materialize
    from .curate import curate_pages
    from .sources import read_parquet
    from .tiers import tiered_dedup

    cfg = cfg or DedupConfig()
    cur = curate_pages(pages, id_col=id_col, text_col=text_col,
                       **(curate_kwargs or {}))
    if staging_path is not None:
        cur.write.mode("overwrite").parquet(staging_path)
        cur = read_parquet(pages.sparkSession, staging_path, cur.schema)
    else:
        cur = materialize(cur)
    ledger = tiered_dedup(
        cur, cfg, emb=emb, emb_threshold=emb_threshold,
        emb_kwargs=emb_kwargs, id_col=id_col, text_col=text_col)
    return cur, ledger


def surviving_docs(curated: DataFrame, ledger: DataFrame,
                   id_col: str = "url") -> DataFrame:
    """The final training corpus: curated docs whose ledger row says
    'kept'. A slim (url) semi-join — the text payload never shuffles
    (the kept set is the join's build side once AQE sizes it)."""
    kept = (ledger.filter(F.col("tier") == TIER_KEPT)
            .select(F.col("url").alias(id_col)))
    return curated.join(kept, id_col, "left_semi")
