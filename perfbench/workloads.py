"""The three benchmark workloads: inputs, timed ops and off-clock references.

Each op is one call into a public engine function plus the action that
consumes its result (a small digest aggregate, or the pairs themselves
where the check needs them). ``rows`` is the op's fact-side input row
count; a pass's rows are the sum over its ops.

References are computed off the clock, from the same seeded inputs:
numpy brute force where the op has a closed-form answer (PIP, kNN, tile
and hex counts, integer PageRank, hot cells), the exact result it
approximates (MinHash vs exact Jaccard, salted vs plain join),
and construction invariants plus the untimed warm-up pass's digest where
neither exists (containment, curate).
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
from demeter_spark.functions import cellgrid, geom, hexgrid
from demeter_spark.operators import (
    curation, dedup, hexbin, joins, linkgraph, simsearch, tilepyramid, zonal,
)
from demeter_spark.plans import skew as skewmod
from demeter_spark.plans.lineage import LineageLog
from demeter_spark.sources import synth

GEO_RES = 10  # bench.py's q1 cover resolution
ZONAL_RES = 8  # zonal.zonal_stats' default cover resolution
SKEW_RES = 6  # bench.py's skew-section resolution (one cell holds ~1/3)
PYRAMID_RES = 12
HEX_RES = [4, 7, 10]

URL_DIGEST = "sum(crc32(CAST(url AS BINARY)) * (parcel_id + 1))"


@dataclass
class Op:
    name: str  # per-layer key: <module>.<function>[_variant]
    rows: int
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    sizes: inputs.Sizes
    work_dir: str  # per-run scratch inside the checkout
    n_parts: int


def _digest(df: DataFrame, *exprs: str) -> tuple:
    return tuple(df.selectExpr("count(*)", *exprs).first())


def _crc(urls) -> np.ndarray:
    return np.fromiter((zlib.crc32(u.encode()) for u in urls), np.int64, len(urls))


def _pip(px: np.ndarray, py: np.ndarray, parts) -> np.ndarray:
    """Brute-force even-odd test, OR across parts (rings from the WKT)."""
    inside = np.zeros(len(px), dtype=bool)
    for rings in parts:
        parity = np.zeros(len(px), dtype=bool)
        for xs, ys in rings:
            for i in range(len(xs)):
                x0, y0 = xs[i], ys[i]
                x1, y1 = xs[(i + 1) % len(xs)], ys[(i + 1) % len(xs)]
                if y0 == y1:
                    continue
                hit = ((y0 > py) != (y1 > py)) & (
                    px < (x1 - x0) * (py - y0) / (y1 - y0) + x0
                )
                parity ^= hit
        inside |= parity
    return inside


def _contained(px, py, parcels_pdf) -> tuple[np.ndarray, np.ndarray]:
    """(point index, parcel_id) for every containing pair."""
    idx, pid = [], []
    for p, wkt in zip(parcels_pdf["parcel_id"], parcels_pdf["geom_wkt"]):
        hit = np.flatnonzero(_pip(px, py, geom.parse_wkt_polygons(wkt)))
        idx.append(hit)
        pid.append(np.full(len(hit), p, dtype=np.int64))
    return np.concatenate(idx), np.concatenate(pid)


class Workload:
    name = ""
    pass_s = 1.0  # nominal pass wall on a 4-vCPU host; sets the timed pass count

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.build_s: dict[str, float] = {}

    def build(self) -> None:
        """Create and materialize the inputs (timed as set-up)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Off-clock references."""

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def extra_ops(self) -> list[Op]:
        """Ops traced alone after the traced pass, outside any pass wall."""
        return []

    def begin_pass(self) -> None:
        pass

    def end_pass(self) -> None:
        pass

    def enter(self) -> None:
        """Session settings this workload's ops run under."""

    def leave(self) -> None:
        pass

    def rows(self) -> int:
        return sum(op.rows for op in self.ops())

    def _documents(self, tag: str, n_docs: int) -> str:
        """Directory holding this seed's documents.parquet (written once)."""
        c = self.ctx
        path = os.path.join(c.work_dir, f"{tag}_seed{c.seed}")
        if not os.path.exists(os.path.join(path, "documents.parquet")):
            inputs.write_documents(path, c.seed, n_docs)
        return path

    def _timed(self, key: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.build_s[key] = time.perf_counter() - t0
        return out


class _Points(Workload):
    """Shared point-side inputs of ``geo`` and ``skew``."""

    def _build_points(self) -> None:
        c = self.ctx
        self.sf_dir = self._documents("docs", c.sizes.n_docs)
        self.pts = self._timed("points", lambda: inputs.points(
            self.spark, self.sf_dir, c.seed, c.sizes.factor, c.n_parts
        ).localCheckpoint(eager=True))
        self.parcels = synth.parcels(self.spark)
        self.n_pts = self.pts.count()

    def _prepare_points(self) -> None:
        pdf = self.pts.select("url", "lon", "lat").toPandas()
        self.lon = pdf["lon"].to_numpy()
        self.lat = pdf["lat"].to_numpy()
        self.url_crc = _crc(pdf["url"].tolist())
        self.parcels_pdf = self.parcels.select("parcel_id", "geom_wkt").toPandas()
        idx, pid = _contained(self.lon, self.lat, self.parcels_pdf)
        self.join_ref = (len(idx), int((self.url_crc[idx] * (pid + 1)).sum()))


class Geo(_Points):
    """Flagship read path: broadcast cover join, zonal, kNN, pyramid, hexbin."""

    name = "geo"
    pass_s = 3.5

    def build(self) -> None:
        self._build_points()
        self.cells = self._timed("raster_cells", lambda: synth.raster_cells(
            self.spark).localCheckpoint(eager=True))
        self.n_cells = self.cells.count()
        self.gazetteer = synth.gazetteer(self.spark)

    def prepare(self) -> None:
        self._prepare_points()
        # zonal: raster cell centres inside parcels, grouped by the keys
        cpdf = self.cells.select("dataset", "depth_lo", "cx", "cy", "value").toPandas()
        self.cx, self.cy = cpdf["cx"].to_numpy(), cpdf["cy"].to_numpy()
        idx, pid = _contained(self.cx, self.cy, self.parcels_pdf)
        hit = cpdf.iloc[idx].assign(parcel_id=pid)
        self.zonal_ref = (
            hit.groupby(["parcel_id", "dataset", "depth_lo"]).ngroups,
            int(hit["value"].notna().sum()),
        )
        # kNN: the map-only kernel's order (distance, then site id)
        g = self.gazetteer.toPandas().sort_values("place_id")
        sid = g["place_id"].to_numpy()
        rank = np.arange(1, 4, dtype=np.int64)[None, :]
        acc = 0
        for lo in range(0, len(self.lon), 20_000):
            hi = lo + 20_000
            dx = self.lon[lo:hi, None] - g["lon"].to_numpy()[None, :]
            dy = self.lat[lo:hi, None] - g["lat"].to_numpy()[None, :]
            top = np.argsort(np.sqrt(dx * dx + dy * dy), axis=1, kind="stable")[:, :3]
            acc += int((self.url_crc[lo:hi, None] * (sid[top] + 1) * rank).sum())
        self.knn_ref = (3 * len(self.lon), acc)
        tiles = 0
        for r in range(PYRAMID_RES + 1):
            n = 1 << r
            ix = np.clip(np.floor((self.lon + 180.0) / 360.0 * n), 0, n - 1)
            iy = np.clip(np.floor((self.lat + 90.0) / 180.0 * n), 0, n - 1)
            tiles += len(np.unique(ix * n + iy))
        self.pyramid_ref = (tiles, (PYRAMID_RES + 1) * len(self.lon))
        hexes = sum(len(np.unique(hexgrid.hex_of(self.lon, self.lat, r)))
                    for r in HEX_RES)
        self.hex_ref = (hexes, len(HEX_RES) * len(self.lon))

    def ops(self) -> list[Op]:
        n = self.n_pts
        return [
            Op("joins.spatial_join", n, lambda: _digest(
                joins.spatial_join(self.pts, self.parcels, res=GEO_RES), URL_DIGEST),
               lambda d: d == self.join_ref),
            Op("zonal.zonal_stats", self.n_cells, lambda: _digest(
                zonal.zonal_stats(self.cells, self.parcels, res=ZONAL_RES), "sum(n_valid)"),
               lambda d: d == self.zonal_ref),
            Op("joins.knn_join", n, lambda: _digest(
                joins.knn_join(self.pts, self.gazetteer, k=3, res=6),
                "sum(crc32(CAST(url AS BINARY)) * (place_id + 1) * rank)"),
               lambda d: d == self.knn_ref),
            Op("tilepyramid.tile_pyramid", n, lambda: _digest(
                tilepyramid.tile_pyramid(self.pts, res_max=PYRAMID_RES, res_min=0),
                "sum(n_points)"),
               lambda d: d == self.pyramid_ref),
            Op("hexbin.hex_bin_multi", n, lambda: _digest(
                hexbin.hex_bin_multi(self.pts, HEX_RES), "sum(n)"),
               lambda d: d == self.hex_ref),
        ]

    def extra_ops(self) -> list[Op]:
        """Traced alone, outside the pass: the cover build q1 pays per call."""
        return [Op("joins.parcel_covers", len(self.parcels_pdf), lambda: _digest(
            joins.parcel_covers(self.parcels, res=GEO_RES), "sum(CAST(full AS INT))"),
            lambda d: d[0] > 0)]


class Webtext(Workload):
    """Curation path: MinHash/containment dedup, curate, IVF, PageRank."""

    name = "webtext"
    pass_s = 5.5

    def build(self) -> None:
        c = self.ctx
        self.sf_dir = self._documents("corpus", c.sizes.n_corpus_docs)

        def corpus():
            docs = synth.documents(self.spark, self.sf_dir).repartition(c.n_parts)
            return (docs.localCheckpoint(eager=True),
                    synth.dedup_corpus(self.spark, self.sf_dir)
                    .repartition(c.n_parts).localCheckpoint(eager=True))

        self.docs, self.corpus = self._timed("corpus", corpus)
        self.emb, self.vecs = inputs.embeddings(
            self.spark, c.seed, c.sizes.n_emb, c.sizes.emb_dim, c.n_parts)
        self.emb = self.emb.localCheckpoint(eager=True)
        self.edges = inputs.host_edges(
            self.spark, c.seed, c.sizes.n_edges, c.sizes.n_hosts, c.n_parts
        ).localCheckpoint(eager=True)
        self.n_docs = self.docs.count()
        self.n_corpus = self.corpus.count()

    def prepare(self) -> None:
        c = self.ctx
        self.pairs_ref = _jaccard_pairs(self.corpus.toPandas(), 0.8)
        # exact duplicates (every 10th doc) are contained both ways
        self.n_exact_dups = 2 * len(range(0, c.sizes.n_corpus_docs, 10))
        # brute-force top-10 cosine for the recall floor
        v = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        sims = v @ v.T
        np.fill_diagonal(sims, -np.inf)
        self.true_top = np.argsort(-sims, axis=1, kind="stable")[:, :10]
        self.vnorm = v
        self.pagerank_ref = _pagerank_int(
            c.sizes.n_edges, c.sizes.n_hosts, inputs.salt(c.seed, inputs.EDGE_STREAM), 3)
        self.warm: dict[str, object] = {}

    def _same_as_warmup(self, key: str, digest) -> bool:
        return self.warm.setdefault(key, digest) == digest

    def _ivf_ok(self, pdf) -> bool:
        """Every query gets k neighbours, ranked by true cosine, and the
        probed lists recover >= 90% of the brute-force top-k."""
        k = 10
        if len(pdf) != k * len(self.vecs):
            return False
        pdf = pdf.sort_values(["query_id", "rnk"])
        q = pdf["query_id"].to_numpy().reshape(-1, k)
        nb = pdf["neighbor_id"].to_numpy().reshape(-1, k)
        cos = (self.vnorm[q] * self.vnorm[nb]).sum(axis=2)
        if not (np.diff(cos, axis=1) <= 1e-12).all():
            return False
        hits = sum(len(set(row) & set(true)) for row, true in
                   zip(nb.tolist(), self.true_top[q[:, 0]].tolist()))
        return hits / self.true_top.size >= 0.9

    def ops(self) -> list[Op]:
        def containment():
            exact = "doc_a % 100000 = doc_b % 100000 AND abs(doc_a - doc_b) = 200000"
            return _digest(
                dedup.containment_pairs(self.corpus, 0.5),
                f"count_if({exact})",
                f"count_if({exact} AND containment = 1.0)",
                "min(containment)",
                "sum(doc_a * 7 + doc_b)",
            )

        return [
            Op("dedup.minhash_lsh_pairs", self.n_corpus, lambda: {
                (r.doc_a, r.doc_b) for r in
                dedup.minhash_lsh_pairs(self.corpus, 0.8).select("doc_a", "doc_b").collect()
            }, lambda d: d == self.pairs_ref),
            # exact duplicates lose only docs whose every fingerprint is
            # past the max_df cap; each one found must read exactly 1
            Op("dedup.containment_pairs", self.n_corpus, containment,
               lambda d: d[1] == d[2] >= 0.95 * self.n_exact_dups
               and d[3] >= 0.5 and self._same_as_warmup("containment", d)),
            Op("curation.curate", self.n_docs, lambda: curation.curate(
                self.docs).filter("keep = 1").count(),
               lambda d: 0 < d <= self.n_docs and self._same_as_warmup("curate", d)),
            Op("simsearch.ivf_multiprobe_topk", len(self.vecs), lambda:
               simsearch.ivf_multiprobe_topk(
                   self.emb, self.emb, k=10, n_probe=3, cell_col="label"
               ).toPandas(), self._ivf_ok),
            Op("linkgraph.pagerank", self.ctx.sizes.n_edges, lambda: _digest(
                linkgraph.pagerank(self.edges, n_iter=3, mode="int"),
                "sum(rank_fp)",
                "sum(rank_fp * (CAST(substr(node, 2) AS BIGINT) % 997 + 1))"),
               lambda d: d == self.pagerank_ref),
        ]


def _jaccard_pairs(pdf, threshold: float) -> set[tuple[int, int]]:
    """Exact word-3-gram Jaccard pairs (doc_a < doc_b) through an inverted
    index: the pure-Python twin of ``dedup.jaccard_pairs``."""
    sh = {}
    for doc, text in zip(pdf["doc_id"].tolist(), pdf["text"].tolist()):
        w = text.split(" ")
        sh[doc] = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
    index: dict[str, list[int]] = {}
    for doc, grams in sh.items():
        for g in grams:
            index.setdefault(g, []).append(doc)
    inter: dict[tuple[int, int], int] = {}
    for docs in index.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                inter[a, b] = inter.get((a, b), 0) + 1
    return {
        (a, b) for (a, b), n in inter.items()
        if n / (len(sh[a]) + len(sh[b]) - n) >= threshold
    }


def _pagerank_int(n_edges: int, n_hosts: int, salt: int, n_iter: int) -> tuple:
    """numpy twin of linkgraph.pagerank(mode='int') on inputs.host_edges."""
    e = np.arange(n_edges, dtype=np.int64)
    src = e % n_hosts
    dst = (e * 2654435761 + salt) % n_hosts
    nodes = np.union1d(src, dst)
    n = len(nodes)
    pos = np.full(n_hosts, -1, dtype=np.int64)
    pos[nodes] = np.arange(n)
    out_deg = np.bincount(pos[src], minlength=n)
    scale = 1 << 40
    d_num, d_den = int(round(0.85 * (1 << 20))), 1 << 20
    rank = np.full(n, scale // n, dtype=np.int64)
    base = (scale - d_num * scale // d_den) // n
    has_out = out_deg > 0
    for _ in range(n_iter):
        c = np.zeros(n, dtype=np.int64)
        c[has_out] = rank[has_out] // out_deg[has_out]
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, pos[dst], c[pos[src]])
        share = int(rank[~has_out].sum()) // n
        rank = base + ((inflow + share) * d_num) // d_den
    return (n, int(rank.sum()), int((rank * (nodes % 997 + 1)).sum()))


class Skew(_Points):
    """Writes beside reads: lineage ingest, manifest hot cells, shuffle and
    salted cover joins, resume write and stage read."""

    name = "skew"
    pass_s = 6.0
    STAGE = "points_by_cell"
    FINGERPRINT = "bench-v1"

    def build(self) -> None:
        self._build_points()
        self.covers = joins.parcel_covers(self.parcels, res=SKEW_RES).localCheckpoint(
            eager=True)
        self.n_pass = 0

    def prepare(self) -> None:
        self._prepare_points()
        cells = cellgrid.cell_of(self.lon, self.lat, SKEW_RES)
        uniq, counts = np.unique(cells, return_counts=True)
        self.n_cells = len(uniq)
        self.hot_ref = sorted(int(c) for c in uniq[counts > counts.sum() * 0.2])
        self.read_ref = (len(self.lon), int(self.url_crc.sum()))

    def enter(self) -> None:
        # a real shuffle join: the cover side is small enough to auto-broadcast
        self._thresh = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def leave(self) -> None:
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self._thresh)

    def begin_pass(self) -> None:
        self.n_pass += 1
        self.log_dir = os.path.join(self.ctx.work_dir, f"lineage_{self.n_pass}")
        self.log = LineageLog(self.spark, self.log_dir)
        self.hot: list[int] = []

    def end_pass(self) -> None:
        shutil.rmtree(self.log_dir, ignore_errors=True)

    def _ingest(self) -> int:
        from demeter_spark.functions.spark_udfs import cell_of

        return self.log.write_increment(
            self.STAGE,
            self.pts.withColumn("_cell", cell_of(F.col("lon"), F.col("lat"), SKEW_RES)),
            "_cell",
            self.FINGERPRINT,
        )

    def _hot(self) -> list[int]:
        self.hot = skewmod.hot_cells_from_metrics(self.log, self.STAGE, 0.2)
        return sorted(self.hot)

    def _join(self, hot) -> tuple:
        return _digest(joins.spatial_join(
            self.pts, self.parcels, res=SKEW_RES, broadcast_cover=False,
            hot_cells=hot, covers=self.covers), URL_DIGEST)

    def ops(self) -> list[Op]:
        n = self.n_pts
        return [
            Op("lineage.write_increment", n, self._ingest,
               lambda d: d == self.n_cells),
            Op("skew.hot_cells_from_metrics", 0, self._hot,
               lambda d: d == self.hot_ref and len(d) > 0),
            Op("joins.spatial_join_shuffle", n, lambda: self._join(None),
               lambda d: d == self.join_ref),
            Op("joins.spatial_join_salted", n, lambda: self._join(self.hot),
               lambda d: d == self.join_ref),
            Op("lineage.write_increment_resume", n, self._ingest,
               lambda d: d == 0),
            Op("lineage.read_stage", n, lambda: _digest(
                self.log.read_stage(self.STAGE), "sum(crc32(CAST(url AS BINARY)))"),
               lambda d: d == self.read_ref),
        ]


WORKLOADS = {w.name: w for w in (Geo, Webtext, Skew)}
