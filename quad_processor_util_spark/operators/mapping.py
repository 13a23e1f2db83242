"""Quad mapping extension points — the reference's UDF/UDTF surface
(SURVEY.md §2.12):

- ``quad_flat_map``: `Quad => Traversable[Quad]` (processing/QuadMapper.
  scala:45-76) as mapInPandas — scalar→table, Arrow-batched.
- grouped `Traversable[Quad] => Traversable[Quad]` (QuadMapper.scala:84-153,
  scripts/SortedQuadTraversal.scala:34-47) lives in operators.grouping
  (grouped_apply / run_boundary_groups).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.nt import QUAD_FIELDS, QUAD_SCHEMA
from ..oracle import PyQuad
from ..session import worker_kernel


def quad_flat_map(
    quads: DataFrame, fn: Callable[[PyQuad], list[PyQuad]]
) -> DataFrame:
    """Apply a per-quad flatMap written against the PyQuad record type.
    Arrow batches in/out; the Python fn is the user extension point, the
    batching is ours."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                q = PyQuad(
                    r.subject, r.predicate, r.obj,
                    None if pd.isna(r.datatype) else r.datatype,
                    None if pd.isna(r.language) else r.language,
                    None if pd.isna(r.graph) else r.graph,
                    None if pd.isna(r.dataset) else r.dataset,
                )
                for out in fn(q):
                    rows.append((out.subject, out.predicate, out.obj, out.datatype,
                                 out.language, out.graph, out.dataset))
            yield pd.DataFrame(rows, columns=QUAD_FIELDS)

    return quads.select(*QUAD_FIELDS).mapInPandas(worker_kernel(_map),
                                                  QUAD_SCHEMA)
