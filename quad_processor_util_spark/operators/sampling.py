"""Deterministic sampling / quota / holdout operators for training-data
pipelines.

The three staples of assembling a training mix from a crawled corpus:

- :func:`stratified_sample` — per-stratum Bernoulli sampling by CONTENT
  HASH (the "mix languages/sources at different rates" pass);
- :func:`group_quota` — cap documents per group with a deterministic
  preference order (the "at most N pages per domain" pass);
- :func:`hash_split` — assign stable train/val/test labels by hash range
  (the holdout pass that must survive reprocessing).

None of these uses ``rand()``: Spark re-executes tasks on failure and a
``rand()``-based sample is not stable under retry (different rows survive
on the re-run of a lost partition), which silently breaks exactly-once
sinks and makes holdout splits unreproducible. Hashing the document id
gives the same sample on every run, every cluster size, every retry — and
is bit-exact replayable in the DuckDB gate oracles (the md5-60bit route of
``operators.dedup._hash_col``). The reference engine has no sampling
utilities; these belong to the beyond-the-reference training-data family
(SURVEY.md §2, LLM-pipeline operators), like the dedup/ANN matrix.

100 TB stance: stratified_sample and hash_split are pure-Catalyst map-only
(zero shuffle, whole-stage codegen; the fraction/weight maps are tiny
literals, never a join); group_quota is ONE shuffle on the group key and
Spark >= 3.5 plans it as WindowGroupLimit — each map task keeps only its
local top-``quota`` per group before the exchange, so a hot group (the
#1 skew hazard of a per-domain cap) ships ``quota * n_partitions`` rows,
not its full population.
"""
from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["stratified_sample", "group_quota", "hash_split", "seeded_key"]

# fraction/weight resolution: 1e-6 in 60 hash bits keeps the modulus
# comfortably unbiased (2^60 / 1e6 ≈ 1.15e12 full cycles)
_DENOM = 1_000_000

KEY_BITS = 60  # 15 md5 hex chars


def seeded_key(id_col: Column, seed: int) -> Column:
    """The ONE seeded-hash key route shared by sampling and packing: first
    15 md5 hex chars of ``id:seed`` as a 60-bit int (DuckDB-replayable:
    ``('0x' || substr(md5(coalesce(id::VARCHAR, '') || ':seed'), 1,
    15))::BIGINT``). The seed is concatenated, not added, so distinct
    seeds give independent draws over the same ids. A NULL id hashes as
    the empty string (coalesce on BOTH sides — without it Spark's
    concat_ws would skip the NULL while DuckDB's ``||`` would yield NULL,
    silently forking the two orderings)."""
    tagged = F.concat_ws(
        ":", F.coalesce(id_col.cast("string"), F.lit("")), F.lit(str(seed)))
    return F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("long")


def _unit_hash(id_col: Column, seed: int) -> Column:
    """Deterministic uniform draw in [0, _DENOM): :func:`seeded_key`
    reduced mod _DENOM."""
    return seeded_key(id_col, seed) % _DENOM


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    The training-mix operator: ``fractions={'en': 0.5, 'zh': 1.0}``
    downsamples English to half while keeping all Chinese. A row survives
    iff ``hash(id, seed) % 1e6 < fraction * 1e6`` — so the decision is a
    pure function of (id, seed), stable across retries, runs and cluster
    sizes, and two samples at fractions f1 < f2 are NESTED (the f1 sample
    is a subset of the f2 sample), which is what you want when growing a
    mix between training runs.

    Map-only, zero shuffle: the fraction table is inlined as a literal
    ``map()`` lookup (strata maps are small — languages, sources, quality
    tiers); unseen strata fall back to ``default_fraction``. At 100 TB
    this is one codegen'd scan stage fused with whatever follows.
    """
    if not fractions:
        raise ValueError("stratified_sample: fractions must be non-empty")
    for k, v in fractions.items():
        if not (0.0 <= v <= 1.0):
            raise ValueError(
                f"stratified_sample: fraction for {k!r} is {v}, "
                "must be in [0, 1]")
    if not (0.0 <= default_fraction <= 1.0):
        raise ValueError("stratified_sample: default_fraction must be in "
                         "[0, 1]")
    pairs: List[Column] = []
    for k, v in fractions.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(int(round(v * _DENOM))))
    thresh = F.coalesce(
        F.try_element_at(F.create_map(*pairs), F.col(strata_col)),
        F.lit(int(round(default_fraction * _DENOM))),
    )
    return df.where(_unit_hash(F.col(id_col), seed) < thresh)


def group_quota(
    df: DataFrame,
    group_col: str,
    quota: int,
    order_by: Optional[Sequence[Tuple[str, bool]]] = None,
    id_col: str = "doc_id",
    rank_col: Optional[str] = None,
) -> DataFrame:
    """Keep at most ``quota`` rows per group, by a deterministic preference
    order — the "at most N documents per domain/source" cap that stops a
    single hot site from dominating a crawl-derived corpus.

    ``order_by`` is a list of ``(column, ascending)`` pairs expressing
    which rows to PREFER (e.g. ``[("quality", False)]`` keeps the
    highest-quality N); the row id is always appended as the final
    tiebreak so the cap is total-ordered and reproducible. Pass
    ``rank_col`` to also emit the 1-based preference rank.

    Scale: one shuffle on ``group_col``. Spark >= 3.5 rewrites the
    ``row_number() <= quota`` filter into a WindowGroupLimit: every map
    task pre-trims to its local top-``quota`` per group BEFORE the
    exchange, so skewed groups (the failure mode of a naive window over a
    domain key) ship O(quota * n_partitions) rows instead of their full
    population. Pinned by the group_quota row of
    tests/test_plan_contract.py.
    """
    if quota < 1:
        raise ValueError("group_quota: quota must be >= 1")
    order: List[Column] = []
    for col, asc in (order_by or []):
        order.append(F.col(col).asc() if asc else F.col(col).desc())
    order.append(F.col(id_col).asc())
    w = Window.partitionBy(group_col).orderBy(*order)
    rk = F.row_number().over(w)
    name = rank_col or "__gq_rank"
    if rank_col is None and name in df.columns:
        # the internal temp name would silently replace (then drop) the
        # caller's column of the same name (round-5 advice)
        raise ValueError(
            "group_quota: input already has a __gq_rank column — pass "
            "rank_col to choose an explicit output name")
    out = df.withColumn(name, rk).where(F.col(name) <= quota)
    return out if rank_col else out.drop(name)


def hash_split(
    df: DataFrame,
    weights: Dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a stable split label (train/val/test) by hash
    range: the unit interval is cut into consecutive half-open buckets in
    ``weights`` insertion order, and a row lands in the bucket containing
    ``hash(id, seed) / 1e6``. Weights must sum to 1 (±1e-9).

    Because the label is a pure function of (id, seed), the holdout
    assignment survives reprocessing, backfills and cluster changes — a
    document can never migrate from test into train when the pipeline is
    re-run, which is the property that matters for decontamination-grade
    holdouts. Map-only, zero shuffle; composes with
    :func:`~..operators.dedup.decontaminate` (split first, then
    decontaminate train against the test bucket).
    """
    if not weights:
        raise ValueError("hash_split: weights must be non-empty")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"hash_split: weights sum to {total}, expected 1")
    h = _unit_hash(F.col(id_col), seed)
    expr = None
    upper = 0
    items = list(weights.items())
    for i, (label, wgt) in enumerate(items):
        # accumulate in integer thresholds so the buckets partition
        # [0, _DENOM) exactly; the last bucket absorbs rounding residue
        upper = _DENOM if i == len(items) - 1 \
            else upper + int(round(wgt * _DENOM))
        cond = h < upper
        expr = F.when(cond, label) if expr is None \
            else expr.when(cond, label)
    return df.withColumn(split_col, expr)
