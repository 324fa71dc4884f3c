"""Seeded benchmark inputs built from ``demeter_spark.sources.synth``.

Everything the engine receives is a DataFrame derived from the seed:

- a ``documents`` table (doc_id, text, lang, source, n_chars) drawn from the
  same 30-word vocabulary and 10..100-word lengths as the sf tables, written
  once as parquet under the work directory so ``synth.pages``/``page_points``
  /``dedup_corpus`` read it unchanged;
- the bench point fact table: ``synth.page_points`` replicated ``factor``
  times with bench.py's per-replica jitter. Two seeded knobs move it: the
  jitter salt and the hot-place draw (which gazetteer place the 25% / 15% /
  10% hot shares land on). At ``DEFAULT_SEED`` both are zero, which is
  exactly ``synth.scaled_page_points`` (bench.py's q1 input);
- IVF embeddings with planted clusters, and a host graph whose edge targets
  use bench.py's multiplicative hash plus a seeded salt.

Seed 0 is the default. Seeds change data, never sizes, so every seed runs
the same amount of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demeter_spark.sources import synth

DEFAULT_SEED = 0
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


@dataclass(frozen=True)
class Sizes:
    n_docs: int  # documents behind the point table (sf0.1 has 5000)
    factor: int  # point replicas per geocoded page
    n_corpus_docs: int  # documents behind the webtext corpus
    n_emb: int  # embedding rows (IVF corpus and queries)
    emb_dim: int
    n_edges: int  # host-graph edges for pagerank
    n_hosts: int


#: The benchmark size and the smoke-test size (sf0.001-like). The bench
#: keeps bench.py's point base (5000 docs) at a tenth of its factor, and
#: bench.py's 5 edges per host at a tenth of its graph.
BENCH = Sizes(n_docs=5000, factor=20, n_corpus_docs=1000, n_emb=800,
              emb_dim=64, n_edges=50_000, n_hosts=10_000)
SMOKE = Sizes(n_docs=500, factor=2, n_corpus_docs=500, n_emb=200, emb_dim=16,
              n_edges=5_000, n_hosts=1_000)


EDGE_STREAM = 5  # salt stream of the host-graph targets


def salt(seed: int, stream: int) -> int:
    """Per-knob salt in [0, 2^32); every knob is 0 at the default seed."""
    if seed == DEFAULT_SEED:
        return 0
    return int(np.random.SeedSequence([seed, stream]).generate_state(1)[0])


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """documents.parquet with the sf tables' schema and shape."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lens.sum())]
    cuts = np.cumsum(lens)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    pdf = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    })
    pdf["n_chars"] = pdf["text"].str.len().astype(np.int64)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "documents.parquet"))


def points(spark: SparkSession, sf_dir: str, seed: int, factor: int,
           n_parts: int) -> DataFrame:
    """(url, doc_id, place_id, lon, lat): ``synth.scaled_page_points`` with
    a seeded jitter salt and hot-place rotation (both 0 at the default
    seed, where the rows equal bench.py's q1 input)."""
    jitter = salt(seed, 2)
    shift = salt(seed, 3) % synth.N_PLACES
    base = synth.page_points(spark, sf_dir).selectExpr(
        "doc_id", "url", f"(place_id + {shift}) % {synth.N_PLACES} AS place_id"
    )
    n_docs = base.count()
    g = F.broadcast(synth.gazetteer(spark).select("place_id", "lon", "lat"))
    seq = spark.range(0, n_docs * factor, 1, n_parts).selectExpr(
        f"CAST(id % {n_docs} AS BIGINT) AS doc_id",
        f"CAST(id div {n_docs} AS BIGINT) AS rep",
    )
    return (
        seq.join(F.broadcast(base), "doc_id")
        .join(g, "place_id")
        .selectExpr(
            "concat(url, '#', CAST(rep AS STRING)) AS url",
            "doc_id",
            "place_id",
            f"((doc_id * {factor} + rep) * {synth.HASH_MULT} + {jitter})"
            " % 4294967296 AS h2",
            "lon",
            "lat",
        )
        .selectExpr(
            "url",
            "doc_id",
            "place_id",
            "lon + ((h2 % 211) - 105) / 1000e0 AS lon",
            "lat + (((h2 div 211) % 211) - 105) / 1000e0 AS lat",
        )
    )


def embeddings(spark: SparkSession, seed: int, n: int, dim: int,
               n_parts: int) -> tuple[DataFrame, np.ndarray]:
    """(vec_id, embedding, label) with ~50-vector planted clusters, plus the matrix
    itself for the off-clock brute-force reference. ``label`` is the
    planted cluster, the coarse-quantizer seed of the untrained codebook:
    with locality to exploit, recall is a real check (bench.py's q6 hashes
    ids into lists, where recall can only equal the probe fraction)."""
    rng = np.random.default_rng([seed, 4])
    n_clusters = max(2, n // 50)
    centers = rng.normal(size=(n_clusters, dim)) * 5.0
    label = rng.integers(0, n_clusters, n)
    vecs = centers[label] + rng.normal(size=(n, dim)) * 0.3
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })
    emb = spark.createDataFrame(
        pdf, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT"
    ).repartition(n_parts)
    return emb, vecs


def host_edges(spark: SparkSession, seed: int, n_edges: int, n_hosts: int,
               n_parts: int) -> DataFrame:
    """bench.py's pagerank probe graph (multiplicative-hash targets, so
    in-degrees are skewed) with a seeded target salt."""
    target = salt(seed, EDGE_STREAM)
    return spark.range(0, n_edges, 1, n_parts).selectExpr(
        f"concat('h', CAST(id % {n_hosts} AS STRING)) AS src",
        f"concat('h', CAST((id * 2654435761 + {target}) % {n_hosts} AS STRING))"
        " AS dst",
    )
