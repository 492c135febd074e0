"""J6/K4 — author entity resolution (reference ``get_or_insert_author``
:312-340), the one genuinely order-dependent operator (SURVEY §7.4.1).

Reference semantics (sequential): probe by ORCID → else probe by normalized
name (backfilling ORCID onto a name-row whose ORCID is null) → else insert.
First writer fixes NombreLimpio; NombreBusqueda is UNIQUE.

Distributed design, faithful AND scalable:

1. Build the identity graph: nodes = names (``n:<name_norm>``) and orcids
   (``o:<orcid>``); edges from co-occurrence in one author mention.
2. Connected components by iterated min-label propagation (components are
   author-sized — diameter 2-4 — so the loop converges in a few joins;
   each iteration is one shuffle on the edge key, AQE-coalesced).
3. Per component, replay the reference's probe logic *sequentially* with
   ``applyInPandas`` over the component's occurrences in canonical order
   (sorted by (DOI, author_pos)). Components are tiny (a person), so the
   Python-side loop touches a handful of rows per group while thousands of
   components resolve in parallel — the classic "small sequential core
   inside a big parallel shell" shape.

Canonical order replaces the reference's arbitrary API-page order: the
reference's own output depends on page order (not reproducible); ours pins
the same rules to a deterministic order, so re-runs are stable.

``AutorID = xxhash64(NombreBusqueda)`` — NombreBusqueda is UNIQUE in the
reference's schema, making it the natural key (ids therefore stable across
runs and partitions, unlike AUTOINCREMENT — documented divergence).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import connected_components

_RESOLVED_SCHEMA = (
    "DOI string, author_pos int, NombreBusqueda string, "
    "NombreLimpio string, Orcid string"
)


def _replay_component(pdf: pd.DataFrame) -> pd.DataFrame:
    """Reference probe logic replayed over one component's occurrences in
    canonical (DOI, author_pos) order. Pure pandas; group is person-sized.
    name_norm is the tertiary tiebreak so seed mentions (DOI='', pos=0,
    one per existing author — see resolve_authors(seed=...)) sort
    deterministically."""
    pdf = pdf.sort_values(["DOI", "author_pos", "name_norm"], kind="mergesort")
    by_orcid: dict[str, dict] = {}
    by_name: dict[str, dict] = {}
    out_rows = []
    for r in pdf.itertuples(index=False):
        orcid = r.orcid if isinstance(r.orcid, str) and r.orcid else None
        row = None
        if orcid and orcid in by_orcid:
            row = by_orcid[orcid]
        elif r.name_norm in by_name:
            row = by_name[r.name_norm]
            if row["Orcid"] is None and orcid:
                row["Orcid"] = orcid  # ORCID backfill (:326-331)
                by_orcid[orcid] = row
        else:
            row = {
                "NombreBusqueda": r.name_norm,
                "NombreLimpio": r.NombreLimpio,
                "Orcid": orcid,
            }
            by_name[r.name_norm] = row
            if orcid:
                by_orcid[orcid] = row
        out_rows.append(
            {
                "DOI": r.DOI,
                "author_pos": r.author_pos,
                "NombreBusqueda": row["NombreBusqueda"],
                "NombreLimpio": row["NombreLimpio"],
                "Orcid": row["Orcid"],
            }
        )
    return pd.DataFrame(out_rows, columns=["DOI", "author_pos", "NombreBusqueda",
                                           "NombreLimpio", "Orcid"])


def resolve_authors(
    aff_rows: DataFrame,
    seed_autores: DataFrame | None = None,
    max_component_mentions: int = 100_000,
    strict: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns (autores, occurrence→author mapping).

    ``aff_rows`` needs columns DOI, author_pos, NombreLimpio, name_norm,
    orcid (one row per author-affiliation mention; we dedup to mentions).

    ``seed_autores`` (incremental runs): the existing ``autores`` table.
    Each existing author is injected as a pseudo-mention with DOI='' so it
    sorts before every real mention ('' < any DOI) and seeds the replay —
    new mentions then probe against prior-run identities exactly as the
    reference's DB probes do across runs (:312-340). Seed rows are
    excluded from the returned occurrence mapping.

    The per-component ``applyInPandas`` replay is sequential by design
    (the reference's probe order is part of the semantics), so one
    component's mention count is the memory/latency bill of its task.
    Real identity components are person-sized; a component past
    ``max_component_mentions`` almost always means corrupted identity
    data (one ORCID pasted onto thousands of names chains them into one
    mega-identity). That is warned (default) or raised (``strict=True``)
    BEFORE the replay runs — mirroring ``connected_components``'
    convergence guard — rather than discovered as one straggler task
    OOMing an executor. The replay itself still runs on warn: the replay
    is O(component) rows through pandas, fine into the millions; the
    guard is a data-quality tripwire, not a correctness cap.
    """
    occ = aff_rows.select("DOI", "author_pos", "NombreLimpio", "name_norm", "orcid")
    if seed_autores is not None:
        seeds = seed_autores.select(
            F.lit("").alias("DOI"),
            F.lit(0).alias("author_pos"),
            F.col("NombreLimpio"),
            F.col("NombreBusqueda").alias("name_norm"),
            F.col("Orcid").alias("orcid"),
        )
        occ = occ.unionByName(seeds)
    occ = occ.distinct()

    # identity edges; name-only mentions get a self-edge so they surface
    # as singleton components
    name_node = F.concat(F.lit("n:"), F.col("name_norm"))
    orcid_node = F.when(
        F.col("orcid").isNotNull(), F.concat(F.lit("o:"), F.col("orcid"))
    ).otherwise(name_node)
    edges = occ.select(name_node.alias("src"), orcid_node.alias("dst")).distinct()

    comp = connected_components(edges)
    occ_c = occ.join(
        comp.withColumnRenamed("node", "_nn"),
        F.concat(F.lit("n:"), F.col("name_norm")) == F.col("_nn"),
    ).drop("_nn")

    big = (
        occ_c.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_component_mentions)
        .orderBy(F.desc("n"))
        .limit(1)
        .collect()
    )
    if big:
        import warnings

        msg = (
            f"resolve_authors: identity component {big[0]['component']!r} "
            f"chains {big[0]['n']} mentions (> {max_component_mentions}) — "
            "likely corrupted identity keys (one ORCID spanning thousands "
            "of names); its sequential replay will be one long task"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)

    # autores, the mapping and (through it) the flat view all read the
    # replay output: materialise it once
    resolved = occ_c.groupBy("component").applyInPandas(
        lambda pdf: _replay_component(pdf), _RESOLVED_SCHEMA
    ).localCheckpoint()

    autores = (
        resolved.groupBy("NombreBusqueda")
        .agg(
            F.first("NombreLimpio").alias("NombreLimpio"),  # single-valued per key
            F.max("Orcid").alias("Orcid"),  # final backfilled state
        )
        .select(
            F.xxhash64("NombreBusqueda").alias("AutorID"),
            "NombreLimpio",
            "NombreBusqueda",
            "Orcid",
        )
    )
    mapping = (
        resolved.filter(F.col("DOI") != "")  # drop seed pseudo-mentions
        .select("DOI", "author_pos", F.xxhash64("NombreBusqueda").alias("AutorID"))
        .distinct()
    )
    return autores, mapping
