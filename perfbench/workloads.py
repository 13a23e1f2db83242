"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), warms a
fresh session (``warm``), runs its job once (``run``: the public calls up to
the final action or write, then the output aggregate that the check reads)
and runs the same layer calls once more under tracing (``traced``), each
layer forced by a checkpoint inside its own span.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from quad_processor_util_spark.datagen import build_gazetteer
from quad_processor_util_spark.functions.nt import dedup_quads_df
from quad_processor_util_spark.oracle import EX
from quad_processor_util_spark.operators.cc import canonical_mapping
from quad_processor_util_spark.operators.dedup import (
    _clusters_from_pairs,
    dedup_clusters,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs_from_candidates,
)
from quad_processor_util_spark.operators.linking import link_surface_forms
from quad_processor_util_spark.plans.pipeline import (
    canonicalize,
    extract_quads,
    link_unknown_mentions,
    run_pipeline,
    stable_order,
)
from quad_processor_util_spark.sources.io import (
    read_table,
    write_quads_partitioned_by_predicate,
)

from . import check, gen
from .trace import Tracer, plan_counts, plan_nodes, python_metrics

SAMPLE_CONVS = 40
SAMPLE_DOCS = 400
# dedup_clusters as production runs it (bench.py's settings)
MINHASH = {"num_hashes": 36, "bands": 6, "threshold": 0.7}


@dataclass
class Inputs:
    """Paths of the generated tables plus what the check and metrics need."""
    work: str
    rows: int
    paths: dict[str, str]
    warm_paths: dict[str, str]
    gaz: dict[str, str] = field(default_factory=dict)
    catalog_pdf: object = None
    equiv_edges: int = 0
    sample_values: list = field(default_factory=list)
    expected: dict = field(default_factory=dict)
    expected_identities: set = field(default_factory=set)
    expected_hashes: list = field(default_factory=list)
    family: np.ndarray | None = None
    tight: np.ndarray | None = None


def _rng(name: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(name.encode())])


def _out_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under path."""
    sizes = [os.path.getsize(os.path.join(dp, f))
             for dp, _, fs in os.walk(path) for f in fs
             if f.startswith("part-") and f.endswith(".parquet")]
    return sum(sizes), len(sizes)


def _count_equiv(edges: pa.Table) -> int:
    eq = edges.filter(pc.not_equal(edges["edge_kind"], "disambiguation"))
    return eq.group_by(["src_iri", "dst_iri"]).aggregate([]).num_rows


class Workload:
    name = ""
    row_kind = "turns"

    def __init__(self, par: int):
        self.par = par   # Spark task slots; inputs are split into files by it

    # -- inputs -------------------------------------------------------------

    def generate(self, seed: int, work: str) -> Inputs:
        raise NotImplementedError

    def prepare(self, spark, inp: Inputs) -> None:
        """Per-run set-up outside any timing: oracle identity hashes."""
        inp.expected_hashes = check.identity_hashes(spark, inp.expected_identities)

    # -- jobs ---------------------------------------------------------------

    def warm(self, spark, inp: Inputs) -> None:
        """Set-up warm-up on a fresh session: start the Python workers,
        broadcast the gazetteer and build it in every worker."""
        extract_quads(read_table(spark, inp.warm_paths["transcripts"]), inp.gaz,
                      assume_bucketed=True).count()

    def job(self, spark, paths: dict, inp: Inputs, out: str):
        """The timed public calls; returns the frame the check aggregates."""
        raise NotImplementedError

    def run(self, spark, inp: Inputs, check: bool = True) -> tuple[float, dict]:
        """One timed job: (seconds from the first public call until the
        final action returns, check aggregate result). The aggregate is the
        job's final action, so it runs even when the caller will not check
        it."""
        t = time.perf_counter()
        res = self.aggregate(self.job(spark, inp.paths, inp,
                                      os.path.join(inp.work, "out")), inp)
        return time.perf_counter() - t, res

    def aggregate(self, df, inp: Inputs) -> dict:
        return check.check_aggregate(df, check.IDENTITY, "graph",
                                     inp.sample_values, inp.expected_hashes,
                                     check.QUAD_COLS)

    def verify(self, res: dict, inp: Inputs) -> list[str]:
        return check.verify_kg(res, inp.expected, inp.expected_hashes,
                               exact_multiset=False)

    def traced(self, spark, inp: Inputs, tracer: Tracer) -> tuple[dict, dict, dict]:
        """-> (check aggregate result, per-layer counts, {layer: traced
        frame}; the executed plans of these frames are what plan.* counts
        — the program's plans, not the benchmark's check aggregate)"""
        raise NotImplementedError

    # -- shared sample/oracle plumbing for the KG workloads -----------------

    def _kg_sample(self, rng, table: pa.Table, inp: Inputs, edges, catalog,
                   dedup: bool) -> None:
        convs = np.unique(np.asarray(table["conv_id"].to_pylist(), dtype=object))
        pick = sorted(rng.choice(convs, size=min(SAMPLE_CONVS, len(convs)),
                                 replace=False).tolist())
        sub = table.filter(pc.is_in(table["conv_id"], pa.array(pick)))
        turns: dict[str, list] = {c: [] for c in pick}
        for r in sub.select(["conv_id", "turn_idx", "role", "text", "tool"]).to_pylist():
            turns[r["conv_id"]].append((r["turn_idx"], r["role"], r["text"], r["tool"]))
        edge_rows = None if edges is None else list(zip(
            edges["src_iri"].to_pylist(), edges["dst_iri"].to_pylist(),
            edges["edge_kind"].to_pylist()))
        inp.expected = check.kg_oracle(turns, inp.gaz, edge_rows, catalog, dedup)
        inp.sample_values = [check.CONV_PREFIX + c for c in pick]
        inp.expected_identities = {r[:5] for rows in inp.expected.values()
                                   for r in rows}


def _write_kg(work: str, table: pa.Table, files: int, bucketed: bool,
              warm_turns: int, par: int) -> tuple[dict, dict]:
    paths = {"transcripts": gen.write_parquet(
        table, os.path.join(work, "transcripts"), files,
        split_col="conv_id" if bucketed else None)}
    sorted_tbl = table.sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    warm = gen.write_parquet(sorted_tbl.slice(0, warm_turns),
                             os.path.join(work, "warm-transcripts"), par,
                             split_col="conv_id")
    return paths, {"transcripts": warm}


class KgBatch(Workload):
    """The production job end to end: shuffled turns, stable order, fuzzy
    linking, canonicalize over a small alias graph, dedup, partitioned
    write."""
    name = "kg_batch"
    TURNS = 40_000

    def generate(self, seed, work):
        rng = _rng(self.name, seed)
        ent = gen.entity_catalog(rng, 8, 6, 8)
        table = gen.transcripts(rng, ent, self.TURNS, typo_share=0.05)
        targets = np.concatenate([ent["people_iri"], ent["org_iri"], ent["city_iri"]])
        # a small alias graph (driver-side CC path) that also renames some
        # gazetteer entities and excludes one of them
        edges, _, _ = gen.alias_graph(
            rng, targets, 300, 5,
            disambiguation=np.array([ent["people_iri"][-1], gen.DBR + "Mercury",
                                     gen.DBR + "Phoenix"], dtype=object))
        paths, warm = _write_kg(work, table, 2 * self.par, False, 400, self.par)
        paths["edges"] = gen.write_parquet(edges, os.path.join(work, "edges"))
        catalog_pdf = ent["catalog"].to_pandas()
        inp = Inputs(work, self.TURNS, paths, warm, catalog_pdf=catalog_pdf,
                     gaz=build_gazetteer(catalog_pdf).surface_to_iri,
                     equiv_edges=_count_equiv(edges))
        self._kg_sample(rng, table, inp, edges,
                        list(catalog_pdf.itertuples(index=False)), dedup=True)
        return inp

    def job(self, spark, paths, inp, out):
        reg: list = []
        run_pipeline(spark, read_table(spark, paths["transcripts"]),
                     inp.catalog_pdf, read_table(spark, paths["edges"]),
                     out_path=out, fuzzy_link=True, cache_registry=reg)
        for df in reg:
            df.unpersist()
        return None

    def run(self, spark, inp, check=True):
        # the timed region ends when the write returns; the check reads the
        # written table back afterwards
        out = os.path.join(inp.work, "out")
        t = time.perf_counter()
        self.job(spark, inp.paths, inp, out)
        seconds = time.perf_counter() - t
        return seconds, self.aggregate(read_table(spark, out), inp) if check else None

    def traced(self, spark, inp, tr):
        out = os.path.join(inp.work, "out")
        reg: list = []
        with tr.span("job"):
            _, turns = tr.checkpointed("io.scan", read_table, spark,
                                       inp.paths["transcripts"])
            with tr.span("io.scan"):
                edges = read_table(spark, inp.paths["edges"]).localCheckpoint(eager=True)
            so, so_c = tr.checkpointed("stable_order", stable_order, turns)
            ex, ex_c = tr.checkpointed("extract", extract_quads, so_c, inp.gaz,
                                       emit_unknown=True, assume_bucketed=True)
            with tr.span("link"):
                catalog = spark.createDataFrame(inp.catalog_pdf)
                lk = link_unknown_mentions(ex_c, catalog, cache_registry=reg)
                lk_c = lk.localCheckpoint(eager=True)
            mapping, mapping_c, excluded = _traced_cc(tr, edges)
            cn, cn_c = tr.checkpointed("canon", canonicalize, lk_c, mapping_c, excluded)
            dd, dd_c = tr.checkpointed("quad_dedup", dedup_quads_df, cn_c)
            with tr.span("io.write"):
                write_quads_partitioned_by_predicate(dd_c, out)
        for df in reg:
            df.unpersist()
        res = self.aggregate(read_table(spark, out), inp)
        surfaces = ex_c.where(F.col("predicate") == EX + "mentionSurface").select(
            F.col("obj").alias("surface"))
        n_surf = surfaces.distinct().count()
        n_linked = link_surface_forms(surfaces, catalog).count()
        counts = {
            "extract.placeholders": surfaces.count(),
            "link.surfaces": n_surf, "link.linked": n_linked,
            **_canon_counts(lk_c, mapping_c, cn, cn_c),
            "cc.edges": inp.equiv_edges, "cc.nodes": mapping_c.count(),
            "quad_dedup.rows_in": cn_c.count(), "quad_dedup.rows_out": dd_c.count(),
        }
        counts["io.bytes_written"], counts["io.files_written"] = _out_size(out)
        return res, counts, {"stable_order": so, "extract": ex, "link": lk,
                             "cc": mapping, "canon": cn, "quad_dedup": dd}


def _traced_cc(tr: Tracer, edges):
    with tr.span("cc"):
        mapping, excluded = canonical_mapping(edges)
        return mapping, mapping.localCheckpoint(eager=True), excluded


def _canon_counts(quads_in, mapping_c, cn, cn_c) -> dict:
    moved = mapping_c.where(F.col("node") != F.col("canonical")).select("node")
    rewritten = (
        quads_in.join(F.broadcast(moved.select(F.col("node").alias("subject"),
                                               F.lit(1).alias("__s"))),
                      "subject", "left")
        .join(F.broadcast(moved.select(F.col("node").alias("obj"),
                                       F.lit(1).alias("__o"))), "obj", "left")
        .where(F.col("__s").isNotNull()
               | (F.col("datatype").isNull() & F.col("__o").isNotNull()))
        .count())
    n_in, n_out = quads_in.count(), cn_c.count()
    return {"canon.rewritten": rewritten, "canon.dropped": n_in - n_out,
            "canon.broadcast_joins": plan_counts(plan_nodes(cn))["broadcast_joins"]}


class MentionHeavy(Workload):
    """extract_quads alone over pre-bucketed, mention-dense, mostly unique
    turns with a 1,000-form overlapping gazetteer: the extraction kernel and
    the Arrow boundary."""
    name = "mention_heavy"
    TURNS = 30_000

    def generate(self, seed, work):
        rng = _rng(self.name, seed)
        ent = gen.entity_catalog(rng, 400, 100, 100)
        table = gen.transcripts(rng, ent, self.TURNS, sentences_per_turn=4,
                                shuffled=False)
        paths, warm = _write_kg(work, table, 4 * self.par, True, 400, self.par)
        inp = Inputs(work, self.TURNS, paths, warm,
                     gaz=build_gazetteer(ent["catalog"].to_pandas()).surface_to_iri)
        self._kg_sample(rng, table, inp, None, None, dedup=False)
        inp.expected_identities = set()
        return inp

    def job(self, spark, paths, inp, out):
        return extract_quads(read_table(spark, paths["transcripts"]), inp.gaz,
                             assume_bucketed=True)

    def verify(self, res, inp):
        return check.verify_kg(res, inp.expected, [], exact_multiset=True)

    def traced(self, spark, inp, tr):
        with tr.span("job"):
            _, turns = tr.checkpointed("io.scan", read_table, spark,
                                       inp.paths["transcripts"])
            ex, ex_c = tr.checkpointed("extract", extract_quads, turns, inp.gaz,
                                       assume_bucketed=True)
            res = self.aggregate(ex_c, inp)
        return res, {}, {"extract": ex}


class AliasHeavy(Workload):
    """Cheap extraction whose entities are deep aliases in a >100k-edge
    graph, so distributed connected components and canonicalize dominate."""
    name = "alias_heavy"
    TURNS = 30_000
    CHAINS = 3_100

    def generate(self, seed, work):
        rng = _rng(self.name, seed)
        ent = gen.entity_catalog(rng, 8, 6, 8)
        targets = np.concatenate([ent["people_iri"], ent["org_iri"], ent["city_iri"]])
        edges, deepest, tgt = gen.alias_graph(
            rng, targets, self.CHAINS, 64,
            disambiguation=np.array([gen.DBR + "Mercury", gen.DBR + "Phoenix",
                                     gen.DBR + "Paris_TX"], dtype=object))
        # every catalog entity is named by the deepest alias of one of the
        # chains into it, so nearly every extracted quad is rewritten
        alias_of = {}
        for node, t in zip(deepest.tolist(), tgt.tolist()):
            alias_of.setdefault(t, node)
        cat = ent["catalog"].to_pandas()
        cat["entity_iri"] = [alias_of.get(i, i) for i in cat["entity_iri"]]
        table = gen.transcripts(rng, ent, self.TURNS, shuffled=False, tool_share=0.0)
        paths, warm = _write_kg(work, table, 2 * self.par, True, 400, self.par)
        paths["edges"] = gen.write_parquet(edges, os.path.join(work, "edges"))
        inp = Inputs(work, self.TURNS, paths, warm,
                     gaz=build_gazetteer(cat).surface_to_iri,
                     equiv_edges=_count_equiv(edges))
        self._kg_sample(rng, table, inp, edges, None, dedup=True)
        return inp

    def job(self, spark, paths, inp, out):
        quads = extract_quads(read_table(spark, paths["transcripts"]), inp.gaz,
                              assume_bucketed=True)
        mapping, excluded = canonical_mapping(read_table(spark, paths["edges"]))
        return dedup_quads_df(canonicalize(quads, mapping, excluded))

    def traced(self, spark, inp, tr):
        with tr.span("job"):
            _, turns = tr.checkpointed("io.scan", read_table, spark,
                                       inp.paths["transcripts"])
            with tr.span("io.scan"):
                edges = read_table(spark, inp.paths["edges"]).localCheckpoint(eager=True)
            ex, ex_c = tr.checkpointed("extract", extract_quads, turns, inp.gaz,
                                       assume_bucketed=True)
            mapping, mapping_c, excluded = _traced_cc(tr, edges)
            cn, cn_c = tr.checkpointed("canon", canonicalize, ex_c, mapping_c, excluded)
            dd, dd_c = tr.checkpointed("quad_dedup", dedup_quads_df, cn_c)
            res = self.aggregate(dd_c, inp)
        counts = {
            **_canon_counts(ex_c, mapping_c, cn, cn_c),
            "cc.edges": inp.equiv_edges, "cc.nodes": mapping_c.count(),
            "quad_dedup.rows_in": cn_c.count(), "quad_dedup.rows_out": res["n"],
        }
        return res, counts, {"extract": ex, "cc": mapping, "canon": cn,
                             "quad_dedup": dd}


class NeardupDocs(Workload):
    """Production dedup_clusters over documents with planted near-duplicate
    families: minhash, LSH banding, Jaccard verification."""
    name = "neardup_docs"
    row_kind = "docs"
    DOCS = 1_500

    def generate(self, seed, work):
        rng = _rng(self.name, seed)
        table, family, tight = gen.documents(rng, self.DOCS, 60, 0.3, 4)
        paths = {"docs": gen.write_parquet(table, os.path.join(work, "docs"),
                                           2 * self.par)}
        warm = {"docs": gen.write_parquet(table.slice(0, 400),
                                          os.path.join(work, "warm-docs"), self.par)}
        inp = Inputs(work, self.DOCS, paths, warm, family=family, tight=tight)
        inp.sample_values = sorted(rng.choice(self.DOCS, SAMPLE_DOCS,
                                              replace=False).tolist())
        return inp

    def warm(self, spark, inp):
        # Python workers for the shingling mapInPandas
        minhash_signatures(read_table(spark, inp.warm_paths["docs"]),
                           num_hashes=MINHASH["num_hashes"]).count()

    def job(self, spark, paths, inp, out):
        return dedup_clusters(read_table(spark, paths["docs"]), **MINHASH)

    def aggregate(self, df, inp):
        return check.check_aggregate(df, ["doc_id", "cluster_id"], "doc_id",
                                     inp.sample_values, [],
                                     ["doc_id", "cluster_id"])

    def verify(self, res, inp):
        return check.verify_clusters(res, self.DOCS, inp.family, inp.tight)

    def traced(self, spark, inp, tr):
        with tr.span("job"):
            _, docs = tr.checkpointed("io.scan", read_table, spark, inp.paths["docs"])
            mh, mh_c = tr.checkpointed("minhash", minhash_signatures, docs,
                                       num_hashes=MINHASH["num_hashes"])
            ls, ls_c = tr.checkpointed("lsh", minhash_lsh_candidates, mh_c,
                                       bands=MINHASH["bands"])
            jc, jc_c = tr.checkpointed("jaccard", ngram_jaccard_pairs_from_candidates,
                                       docs, ls_c, threshold=MINHASH["threshold"])
            cl, cl_c = tr.checkpointed("cc", _clusters_from_pairs, docs, jc_c, "doc_id")
            res = self.aggregate(cl_c, inp)
        pairs = jc_c.count()
        counts = {
            "lsh.candidates": ls_c.count(), "jaccard.pairs": pairs,
            "cc.edges": pairs,
            "cc.nodes": jc_c.select(F.explode(F.array("id_a", "id_b"))).distinct().count(),
        }
        return res, counts, {"minhash": mh, "lsh": ls, "jaccard": jc, "cc": cl}


WORKLOADS = {w.name: w for w in (KgBatch, MentionHeavy, AliasHeavy, NeardupDocs)}


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def layer_metrics(inp: Inputs, nodes_by_layer: dict[str, list[dict]]) -> dict:
    """extract.* boundary metrics from the extract layer's executed plan."""
    py = python_metrics(nodes_by_layer.get("extract", []))
    return {
        "extract.python_s": py["pythonTotalTime"] / 1000.0,
        "extract.arrow_bytes_in": py["pythonDataSent"],
        "extract.arrow_bytes_out": py["pythonDataReceived"],
        "extract.bytes_out_per_turn": py["pythonDataReceived"] / inp.rows
        if nodes_by_layer.get("extract") else 0.0,
        "extract.quads_out": py["pythonNumRowsReceived"],
        "extract.gazetteer_forms": len(inp.gaz),
    }
