"""Entity linking: one surface scorer shared by every linking path.

Reinterprets the reference's Solr candidate retrieval + payload-BM25 scoring
(solr/SolrHandler.java:296-322, solr/PayloadBM25SimilarityFacory.java:38-41)
as a per-mention index lookup: a character-3-gram inverted index over the
catalog's distinct surface forms gives the candidate forms of a surface,
scored by n-gram Jaccard times the form-weight prior (the payload boost
analog: score ∝ sim × weight, SolrLoader.scala:153-154).

:class:`SurfaceLinker` is Spark-free. The catalog is a broadcast-sized
dimension, so each Python worker builds the index once (cached by content
key, plans/pipeline._get_linker) and the fact side never joins against it.
Extracted quads are linked by plans/extract_vec.link_placeholder_batch,
which rewrites each batch's unknown-mention placeholders inside the
extraction mapInArrow (plans/pipeline.extract_quads(catalog=...)) or over a
placeholder quad stream (plans/pipeline.link_unknown_mentions);
:func:`link_surface_forms` scores the distinct surfaces of a DataFrame in
one mapInArrow.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import worker_kernel

CATALOG_COLUMNS = ("entity_iri", "surface_form", "form_weight")


def _grams(s: str, n: int = 3) -> frozenset[str]:
    """Distinct character n-grams of the space-stripped, lowercased string;
    a string shorter than n is its own single gram."""
    s = s.strip(" ").lower()
    k = len(s) - (n - 1)
    return frozenset(s[i:i + n] for i in range(k)) if k > 0 else frozenset((s,))


def catalog_rows(catalog, caller: str) -> list[tuple[str, str, float]]:
    """The (entity_iri, surface_form, form_weight) rows of a pandas or Spark
    catalog, validated on the driver: ValueError when a column is missing
    or a row has a NULL entity_iri or form_weight. A missing column is
    caught from the schema, before any Spark job. A Spark catalog is
    collected here (the linker needs its rows anyway), which is one job
    unless it is a local relation; so a NULL row in a Spark catalog fails
    after that one collect, never after a job over the data being linked.
    Rows with a NULL surface_form can never link and are left out."""
    missing = [c for c in CATALOG_COLUMNS if c not in catalog.columns]
    if missing:
        raise ValueError(
            f"{caller}: catalog lacks column(s) {missing}; "
            f"need {list(CATALOG_COLUMNS)}")
    if isinstance(catalog, pd.DataFrame):
        raw = catalog[list(CATALOG_COLUMNS)].itertuples(index=False, name=None)
    else:
        raw = catalog.select(*CATALOG_COLUMNS).collect()
    rows = []
    for iri, form, weight in raw:
        if pd.isna(iri) or pd.isna(weight):
            raise ValueError(
                f"{caller}: catalog row ({iri!r}, {form!r}, {weight!r}) has "
                f"a NULL entity_iri or form_weight")
        if not pd.isna(form):
            rows.append((str(iri), str(form), float(weight)))
    return rows


class SurfaceLinker:
    """Best catalog entity per surface string.

    Candidates are the distinct catalog forms sharing at least one char
    3-gram with the surface; jaccard = inter / (|g| + |f| − inter) over the
    two gram sets, counted once per distinct form however many catalog
    rows share it. A candidate row scores jaccard × form_weight when
    jaccard ≥ min_jaccard; the best score wins and ties go to the smallest
    entity_iri."""

    def __init__(self, rows, min_jaccard: float = 0.4):
        self.min_jaccard = min_jaccard
        by_form: dict[str, list[tuple[float, str]]] = {}
        for iri, form, weight in rows:
            by_form.setdefault(form, []).append((weight, iri))
        self._cands = list(by_form.values())
        self._size = []
        self._index: dict[str, list[int]] = {}
        for j, form in enumerate(by_form):
            g = _grams(form)
            self._size.append(len(g))
            for gram in g:
                self._index.setdefault(gram, []).append(j)

    def best(self, surface: str | None) -> tuple[str, float] | None:
        """(entity_iri, score) of the best candidate, or None."""
        if surface is None:
            return None
        g = _grams(surface)
        inter = Counter(j for gram in g for j in self._index.get(gram, ()))
        pick = None
        for j, k in inter.items():
            jac = k / (len(g) + self._size[j] - k)
            if jac < self.min_jaccard:
                continue
            for weight, iri in self._cands[j]:
                score = jac * weight
                if pick is None or score > pick[1] or (
                        score == pick[1] and iri < pick[0]):
                    pick = (iri, score)
        return pick


def link_surface_forms(
    mentions: DataFrame,
    catalog: DataFrame,
    mention_col: str = "surface",
    min_jaccard: float = 0.4,
) -> DataFrame:
    """-> (surface, entity_iri, score): one best entity per distinct
    surface, scored by :class:`SurfaceLinker` in one mapInArrow over the
    distinct surfaces. The catalog is collected once on the driver and
    broadcast. score is rounded to 6 places in Catalyst (HALF_UP, which
    Python's round is not)."""
    from ..plans.pipeline import _get_linker, broadcast_catalog

    bc = broadcast_catalog(mentions.sparkSession,
                           catalog_rows(catalog, "link_surface_forms"),
                           min_jaccard)

    def _score(batches):
        import pyarrow as pa

        linker = _get_linker(bc)
        for rb in batches:
            surf, iri, score = [], [], []
            for s in rb.column(0).to_pylist():
                pick = linker.best(s)
                if pick is not None:
                    surf.append(s)
                    iri.append(pick[0])
                    score.append(pick[1])
            if surf:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(surf, pa.string()), pa.array(iri, pa.string()),
                     pa.array(score, pa.float64())],
                    ["surface", "entity_iri", "score"])

    return (
        mentions.select(F.col(mention_col).cast("string").alias("surface"))
        .distinct()
        .mapInArrow(worker_kernel(_score),
                    "surface string, entity_iri string, score double")
        .select("surface", "entity_iri", F.round("score", 6).alias("score"))
    )
