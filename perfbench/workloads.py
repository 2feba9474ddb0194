"""The workloads: inputs from the seed, the round's jobs, and the
references each job's output is checked against.

Each workload exists to load particular layers of the engine (see
README.md):

- tpch: on the bipartite TPC-H graph data per superstep is tiny, so the
  loop's fixed driver, planning and scheduling cost dominates (pregel,
  hits, csr); on the tripartite graph, triangles are the one non-GAS
  join path.
- web-ingest: the product input path (pages -> links -> graph), the
  durable per-superstep checkpoint, and label propagation, CC and
  k-core on a u^3 power-law graph whose hubs stress per-vertex
  aggregates.

The TPC-H-shaped tables have a fixed shape; the seed permutes the key
space of every table (a bijective relabelling of vertex ids), which
moves hash placement but keeps the graph, so the triangle total is the
same for every seed. The page table is drawn from the seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import inspect
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from olive_spark import oracle
from olive_spark.algorithms.cc import connected_components
from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.labelprop import label_propagation
from olive_spark.algorithms.pagerank import pagerank, pagerank_fixed
from olive_spark.algorithms.triangles import triangle_count
from olive_spark.checkpoint import CheckpointStore
from olive_spark.csr import build_blocks, pagerank_csr
from olive_spark.graph import Graph
from olive_spark.ingest.extract import extract_text_bytes
from olive_spark.ingest.pages import EPOCH, html_of, url_of
from olive_spark.ingest.resolve import (
    build_graph_from_pages,
    testdata_graph,
    testdata_tri_graph,
)

from harness import Round, release_snapshots, span_of

#: the TPC-H-shaped tables are drawn once from this seed; the workload
#: seed only relabels them
TPCH_SHAPE_SEED = 20261017

PR_ITERS = 3
HITS_ITERS = 2
CSR_ITERS = 1
KCORE_K = 3
WEB_PR_ITERS = 2
WEB_LP_ITERS = 2

#: references that depend only on an input's shape, kept across runs
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cache")


# -- inputs -------------------------------------------------------------
def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def tpch_tables(root: str, sf: float, seed: int | None) -> dict:
    """TPC-H-shaped supplier/customer/part/orders/lineitem at scale
    ``sf`` (sf 0.1: 1k suppliers, 15k customers, 20k parts, 150k orders,
    ~600k lineitems), written where ``register_testdata_views`` reads
    them; keys relabelled by ``seed`` (None: not relabelled). Returns
    the relabelled key columns the references need."""
    shape = np.random.default_rng(TPCH_SHAPE_SEED)
    n_s, n_c, n_p, n_o = (max(1, int(k * sf)) for k in (10_000, 150_000, 200_000, 1_500_000))
    per_order = 1 + shape.binomial(6, 0.5, n_o)  # 1..7 lines, mean 4
    n_l = int(per_order.sum())
    order_of_line = np.repeat(np.arange(n_o), per_order)
    cust_of_order = shape.integers(0, n_c, n_o)
    part_of_line = shape.integers(0, n_p, n_l)
    supp_of_line = shape.integers(0, n_s, n_l)

    if seed is None:
        ps, pc, pp, po = (np.arange(k) for k in (n_s, n_c, n_p, n_o))
    else:
        relabel = np.random.default_rng(seed)
        ps, pc, pp, po = (relabel.permutation(k) for k in (n_s, n_c, n_p, n_o))
    os.makedirs(root, exist_ok=True)
    _write(f"{root}/supplier.parquet", {"s_suppkey": ps})
    _write(f"{root}/customer.parquet", {"c_custkey": pc})
    _write(f"{root}/part.parquet", {"p_partkey": pp})
    _write(f"{root}/orders.parquet", {"o_orderkey": po, "o_custkey": pc[cust_of_order]})
    _write(f"{root}/lineitem.parquet", {
        "l_orderkey": po[order_of_line], "l_partkey": pp[part_of_line],
        "l_suppkey": ps[supp_of_line],
    })
    # the loader registers every testdata table; the graph reads none of these
    for name in ("region", "nation", "events", "documents", "embeddings"):
        _write(f"{root}/{name}.parquet", {"id": np.zeros(1, dtype=np.int64)})
    supp = ps[supp_of_line]
    cust = n_s + pc[cust_of_order][order_of_line]
    part = n_s + n_c + pp[part_of_line]
    return {"root": root, "n_bi": n_s + n_c, "n_tri": n_s + n_c + n_p,
            "supp": supp, "cust": cust, "part": part,
            # tripartite vertex id of every unrelabelled vertex id
            "relabel": np.concatenate([ps, n_s + pc, n_s + n_c + pp])}


def web_pages(root: str, n_pages: int, seed: int) -> dict:
    """A page table of ``n_pages`` pages with ~8 outlinks each: 90% to
    power-law-chosen pages of the set, 10% to pages outside it (dropped
    at resolution)."""
    rng = np.random.default_rng(seed)
    outdeg = 1 + rng.binomial(14, 0.5, n_pages)
    src = np.repeat(np.arange(n_pages), outdeg)
    inside = rng.random(len(src)) < 0.9
    dst = np.where(inside,
                   np.floor(n_pages * rng.random(len(src)) ** 3).astype(np.int64),
                   n_pages + rng.integers(0, n_pages, len(src)))
    starts = np.concatenate([[0], np.cumsum(outdeg)])
    urls, htmls, texts = [], [], []
    for i in range(n_pages):
        html = html_of(i, dst[starts[i]:starts[i + 1]].tolist())
        urls.append(url_of(i))
        htmls.append(html)
        texts.append(extract_text_bytes(html))
    os.makedirs(root, exist_ok=True)
    ts = [EPOCH + dt.timedelta(seconds=i) for i in range(n_pages)]
    _write(f"{root}/pages.parquet", {
        "url": urls, "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()), "text": texts,
        "lang": ["en"] * n_pages,
    })
    return {"root": root, "n": n_pages, "src": src[inside], "dst": dst[inside],
            "hrefs": len(src)}


# -- references ---------------------------------------------------------
def as_dense(pdf, col: str, n: int, dense=None, vertex_valued: bool = False) -> np.ndarray:
    """Result column indexed by dense vertex id; every id exactly once.

    ``dense`` maps the engine's vertex ids to dense ids (web-ingest's
    ids are url hashes); it is applied to the id column and, when the
    column holds vertex ids (component, label), to the values too.
    """
    ids, vals = pdf["id"].to_numpy(), pdf[col].to_numpy()
    if dense is not None:
        ids = dense(ids)
        if vertex_valued:
            vals = dense(vals)
    if len(ids) != n or len(np.unique(ids)) != n or ids.min() < 0 or ids.max() >= n:
        raise ValueError(f"{col}: expected ids 0..{n - 1} once each, got {len(ids)} rows")
    out = np.empty(n, dtype=vals.dtype)
    out[ids] = vals
    return out


def mismatch(name: str, got: np.ndarray, want: np.ndarray, exact: bool) -> str | None:
    """None when ``got`` equals ``want`` (floats to 1e-9 relative)."""
    same = got == want if exact else np.isclose(got, want, rtol=1e-9, atol=1e-15)
    bad = np.flatnonzero(~same)
    return f"{name}: {len(bad)} of {len(want)} values differ, first at {bad[:5].tolist()}" if len(bad) else None


class Refs:
    """References computed once per input set, on first use."""

    def __init__(self, n: int, src: np.ndarray, dst: np.ndarray):
        self.n, self.src, self.dst = n, src, dst
        self._memo: dict = {}

    def get(self, key, fn):
        if key not in self._memo:
            self._memo[key] = fn()
        return self._memo[key]

    @property
    def edge_list(self) -> list[tuple[int, int]]:
        return self.get("edges", lambda: list(zip(self.src.tolist(), self.dst.tolist())))

    def outdeg(self):
        return self.get("outdeg", lambda: np.bincount(self.src, minlength=self.n))

    def pagerank(self, k: int):
        return self.get(("pr", k), lambda: oracle.pagerank_fixed(self.n, self.edge_list, k))

    def hits(self, k: int):
        return self.get(("hits", k), lambda: oracle.hits_fixed(self.n, self.edge_list, k))

    def cc(self):
        return self.get("cc", lambda: oracle.connected_components(self.n, self.edge_list))

    def lp(self, k: int):
        return self.get(("lp", k), lambda: oracle.label_propagation(self.n, self.edge_list, k))

    def kcore(self, k: int):
        return self.get(("kcore", k), lambda: oracle.kcore_fixed(self.n, self.edge_list, k, 100))


# -- shared job pieces ----------------------------------------------------
def _pregel_inspect(tracer_span_add):
    """inspect() for PregelResult jobs: attach the loop's per-superstep
    record and a derived pregel span covering the supersteps."""
    def inspect(res, span):
        steps = [dict(m) for m in res.metrics]
        span.extra["supersteps"] = steps
        loop_s = sum(m["ms"] for m in steps) / 1000.0
        end = span.extra["call_end"]
        tracer_span_add(f"pregel.{span.name}", "pregel", span, end - loop_s, end)
    return inspect


def _check_edges(g: Graph, refs: Refs):
    return lambda: (None if g.edge_count() == len(refs.src)
                    else f"edge count {g.edge_count()} != {len(refs.src)}")


def _check_degrees(g: Graph, refs: Refs, dense=None):
    def check():
        got = as_dense(g.degrees().toPandas(), "outdeg", refs.n, dense)
        return (_check_edges(g, refs)()
                or mismatch("degrees", got, refs.outdeg(), exact=True))
    return check


def _symmetrized(g: Graph) -> Graph:
    sym = g.symmetrized()
    sym.edges.count()
    return sym


def _release_graph(g: Graph) -> None:
    g.unpersist()
    release_snapshots(g.edges, frozenset())


def _pregel_job(rt: Round, name: str, call, col: str, want, loop_edges: int,
                exact: bool, dense=None) -> None:
    """A job returning a ``PregelResult`` whose state column ``col`` must
    equal ``want``; vertex-valued columns (exact ones) are compared as
    dense ids."""
    rt.job(
        name, "algorithms", call,
        finish=lambda r: r.state.agg(F.count("*"), F.max(col)).collect(),
        check=lambda r: mismatch(name, as_dense(r.state.toPandas(), col, len(want), dense,
                                                vertex_valued=exact), want, exact),
        release=lambda r: r.free(),
        loop=lambda r: (loop_edges, r.supersteps),
        inspect=_pregel_inspect(rt.tracer.add),
    )


# -- workloads ----------------------------------------------------------
class Tpch:
    """Both TPC-H graphs, one after the other, in one round."""

    name = "tpch"

    def __init__(self, sf_bi: float, sf_tri: float):
        self.sf_bi, self.sf_tri = sf_bi, sf_tri

    def prepare(self, spark, root: str, seed: int):
        bi = tpch_tables(f"{root}/bipartite", self.sf_bi, seed)
        tri = tpch_tables(f"{root}/tripartite", self.sf_tri, seed)
        src = np.concatenate([tri["supp"], tri["cust"], tri["part"]])
        dst = np.concatenate([tri["cust"], tri["part"], tri["supp"]])
        return ((bi, Refs(bi["n_bi"], bi["supp"], bi["cust"])),
                (tri, Refs(tri["n_tri"], src, dst)))

    def round(self, rt: Round, spark, inputs) -> None:
        self.bipartite(rt, spark, *inputs[0])
        self.tripartite(rt, spark, *inputs[1])

    def bipartite(self, rt: Round, spark, t: dict, refs: Refs) -> None:
        g = rt.load("ingest.testdata_graph", "ingest", lambda: testdata_graph(spark, t["root"]))
        e = rt.load("graph.build", "graph", lambda: (g.vertex_count(), g.edge_count())[1])
        rt.load("graph.degrees", "graph", g.degrees)
        rt.load("graph.loop_layout", "graph", lambda: _materialize_layouts(g, reverse=True))
        rt.check_load("load", _check_degrees(g, refs))
        keep = rt.baseline[1]

        pr_iters, hits_iters = rt.iters(PR_ITERS), rt.iters(HITS_ITERS)
        _pregel_job(rt, "pagerank", lambda: pagerank_fixed(g, pr_iters), "rank",
                    refs.pagerank(pr_iters), e, exact=False)

        def check_hits(df):
            pdf = df.toPandas()
            hub, auth = refs.hits(hits_iters)
            return (mismatch("hits.hub", as_dense(pdf, "hub", refs.n), hub, exact=False)
                    or mismatch("hits.auth", as_dense(pdf, "auth", refs.n), auth, exact=False))

        rt.job("hits", "algorithms", lambda: hits(g, hits_iters),
               finish=lambda df: df.agg(F.sum("hub"), F.sum("auth")).collect(),
               check=check_hits, release=lambda df: release_snapshots(df, keep))

        def csr_pagerank():
            with rt.tracer.span("csr.build_blocks", "csr"):
                blocks = build_blocks(g)
                blocks.count()
            with rt.tracer.span("csr.pagerank", "csr"):
                ranks = pagerank_csr(g, CSR_ITERS, blocks=blocks)
            return blocks, ranks

        def check_csr(out):
            # CSR PageRank must equal pagerank_fixed on the same graph
            # with as many supersteps; oracle.pagerank_fixed is the
            # reference pagerank_fixed itself is held to above
            got = as_dense(out[1].toPandas(), "rank", refs.n)
            return mismatch("csr.pagerank", got, refs.pagerank(CSR_ITERS), exact=False)

        def release_csr(out):
            out[0].unpersist()
            release_snapshots(out[1], keep)

        rt.job("pagerank_csr", "csr", csr_pagerank, check=check_csr,
               release=release_csr, loop=lambda out: (e, CSR_ITERS))
        _release_graph(g)

    def tripartite(self, rt: Round, spark, t: dict, refs: Refs) -> None:
        g = rt.load("ingest.testdata_graph", "ingest", lambda: testdata_tri_graph(spark, t["root"]))
        rt.load("graph.build", "graph", lambda: (g.vertex_count(), g.edge_count()))
        rt.check_load("load", _check_edges(g, refs))

        def check_triangles(out):
            per_all, total = out
            want_total, want_per = refs.get("triangles", lambda: triangle_reference(
                self.sf_tri, t["relabel"], t["root"]))
            if total != want_total:
                return f"triangle total {total} != {want_total}"
            got = as_dense(per_all.toPandas(), "triangles", refs.n)
            return mismatch("triangles per vertex", got, want_per, exact=True)

        # triangle_count returns per-vertex counts cached, total computed
        rt.job("triangles", "algorithms", lambda: triangle_count(g),
               check=check_triangles, release=lambda out: out[0].unpersist())

        _release_graph(g)


def triangle_reference(sf: float, relabel: np.ndarray, root: str) -> tuple[int, np.ndarray]:
    """Triangle total and per-vertex counts from the contract's own
    oracles (``oracle_sql()``) on DuckDB.

    The oracle's wedge join is slow on supplier hubs, and its answer
    depends only on the tables' shape: it is computed once on the
    unrelabelled tables, kept under ``perfbench/cache/`` (keyed by the
    oracle SQL and the table generator), and relabelled per run.
    """
    import __spark_entry__ as contract

    sql = contract.oracle_sql()
    key = hashlib.sha256(repr((sf, TPCH_SHAPE_SEED, sql["triangle_total"],
                               sql["triangle_per_vertex"],
                               inspect.getsource(tpch_tables))).encode()).hexdigest()[:16]
    path = f"{CACHE}/triangles-{key}.npz"
    if not os.path.exists(path):
        base = tpch_tables(f"{root}/unrelabelled", sf, None)
        total, per = duckdb_triangles(sql, base["root"], len(relabel))
        os.makedirs(CACHE, exist_ok=True)
        np.savez(f"{path}.{os.getpid()}.npz", total=total, per=per)
        os.replace(f"{path}.{os.getpid()}.npz", path)
    with np.load(path) as z:
        per = np.empty_like(z["per"])
        per[relabel] = z["per"]
        return int(z["total"]), per


def duckdb_triangles(sql: dict, root: str, n: int) -> tuple[int, np.ndarray]:
    import duckdb

    con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB",
                                 "temp_directory": f"{root}/duckdb.tmp"})
    try:
        for name in ("supplier", "customer", "part", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{root}/{name}.parquet')")
        total = con.execute(sql["triangle_total"]).fetchone()[0]
        pdf = con.execute(sql["triangle_per_vertex"]).df()
    finally:
        con.close()
    return int(total), as_dense(pdf, "triangles", n)


class WebIngest:
    name = "web-ingest"

    def __init__(self, n_pages: int):
        self.n_pages = n_pages

    def prepare(self, spark, root: str, seed: int):
        w = web_pages(root, self.n_pages, seed)
        # The engine's vertex ids are xxhash64(url). The references run on
        # dense ids in the same order (the rank of the hash), so that
        # "smallest label" means the same vertex on both sides.
        pdf = (spark.read.parquet(f"{root}/pages.parquet")
               .select(F.xxhash64("url").alias("id"), "url").toPandas())
        page = np.array([int(u.rsplit("/p", 1)[1]) for u in pdf["url"]])
        order = np.argsort(pdf["id"].to_numpy())
        hashes = pdf["id"].to_numpy()[order]
        rank_of_page = np.empty(len(page), dtype=np.int64)
        rank_of_page[page[order]] = np.arange(len(page))

        def dense(ids: np.ndarray) -> np.ndarray:
            pos = np.searchsorted(hashes, ids).clip(0, len(hashes) - 1)
            if not np.array_equal(hashes[pos], ids):
                raise ValueError("result holds vertex ids that are not page url hashes")
            return pos

        w["dense"] = dense
        return w, Refs(w["n"], rank_of_page[w["src"]], rank_of_page[w["dst"]])

    def round(self, rt: Round, spark, inputs) -> None:
        w, refs = inputs
        dense = w["dense"]
        pages = spark.read.parquet(f"{w['root']}/pages.parquet")
        g, _ = rt.load("ingest.extract", "ingest",
                       lambda: build_graph_from_pages(spark, pages, id_method="hash"))
        e = rt.load("ingest.resolve", "ingest", lambda: (g.vertex_count(), g.edge_count())[1])
        span_of(rt.tracer, "ingest.resolve").extra.update(edges=e, resolved_frac=e / w["hrefs"])
        rt.load("graph.degrees", "graph", g.degrees)
        sym = rt.load("graph.symmetrize", "graph", lambda: _symmetrized(g))
        rt.load("graph.loop_layout", "graph", lambda: _materialize_layouts(g, sym))
        rt.check_load("load", _check_degrees(g, refs, dense))

        ckpt_root = f"{w['root']}/checkpoints"
        pr_iters, lp_iters = rt.iters(WEB_PR_ITERS), rt.iters(WEB_LP_ITERS)

        def run():
            store = CheckpointStore(spark, ckpt_root, run_id=rt.tracer.run_id)
            return pagerank(g, epsilon=None, max_iterations=pr_iters,
                            checkpoint_store=store), store

        def check(out):
            got = as_dense(out[0].state.toPandas(), "rank", refs.n, dense)
            return mismatch("pagerank", got, refs.pagerank(pr_iters), exact=False)

        def inspect_checkpoint(out, span):
            res, store = out
            _pregel_inspect(rt.tracer.add)(res, span)
            lineage = store.lineage().groupBy("superstep").agg(
                F.sum("bytes").alias("bytes"), F.first("ms").alias("ms")).toPandas()
            lineage = lineage.sort_values("superstep")
            span.extra["checkpoint"] = {"bytes": lineage["bytes"].tolist(),
                                        "ms": lineage["ms"].tolist(),
                                        "records": store.superstep_metrics()}
            loop = span_of(rt.tracer, f"pregel.{span.name}")
            write_s = float(lineage["ms"].sum()) / 1000.0
            rt.tracer.add("checkpoint.write", "checkpoint", loop, loop.start, loop.start + write_s)

        def release(out):
            out[0].free()
            shutil.rmtree(ckpt_root, ignore_errors=True)

        rt.job("pagerank", "algorithms", run,
               finish=lambda out: out[0].state.agg(F.count("*"), F.sum("rank")).collect(),
               check=check, release=release, loop=lambda out: (e, out[0].supersteps),
               inspect=inspect_checkpoint)
        _pregel_job(rt, "labelprop", lambda: label_propagation(g, lp_iters), "label",
                    refs.lp(lp_iters), 2 * e, exact=True, dense=dense)
        _pregel_job(rt, "cc", lambda: connected_components(g), "component",
                    refs.cc(), 2 * e, exact=True, dense=dense)
        keep = rt.baseline[1]

        def check_kcore(res):
            want, rounds, _ = refs.kcore(KCORE_K)
            got = as_dense(res.state.toPandas(), "in_core", refs.n, dense)
            if res.rounds != rounds:
                return f"kcore rounds {res.rounds} != {rounds}"
            return mismatch("kcore", got, want, exact=True)

        rt.job("kcore", "algorithms", lambda: kcore(g, KCORE_K),
               finish=lambda r: r.state.agg(F.count("*"), F.sum(F.col("in_core").cast("long"))).collect(),
               check=check_kcore, release=lambda r: release_snapshots(r.state, keep))

        _release_graph(g)


def _materialize_layouts(g: Graph, sym: Graph | None = None, reverse: bool = False) -> None:
    """Build, before any job is timed, the memoized layouts the loops
    iterate on: ``Graph.loop_layout`` of ``g`` (with the degrees
    PageRank reads) and of its closure ``sym``, and, for HITS, the
    reversed edges; so that no job is timed building a layout a later
    job reuses from cache."""
    lg = g.loop_layout()
    if lg is not g:
        lg.edges.count()
        lg.vertices.count()
        lg.degrees().count()
    if reverse:
        lg.reversed_edges()
    if sym is not None and sym.loop_layout() is not sym:
        sym.loop_layout().edges.count()
        sym.loop_layout().vertices.count()


WORKLOADS = {w.name: w for w in (
    Tpch(sf_bi=0.05, sf_tri=0.005),
    WebIngest(8_000),
)}
