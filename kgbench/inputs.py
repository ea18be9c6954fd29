"""Seeded benchmark inputs, written as parquet files without Spark.

The same seed gives the same files. Generation runs in the Spark
driver's Python process, so no Spark job runs before the workload starts.
"""

from __future__ import annotations

import inspect
import math
import os
import random
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq

from cpg_spark import synth
from cpg_spark.operators import canonicalize

# -- kg_stream: one page file per micro-batch --------------------------------

PAGES_PER_FILE = 250

_PAGES = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def write_page_files(seed: int, n_files: int, out_dir: str) -> list[str]:
    """Write ``n_files`` parquet files of ``PAGES_PER_FILE`` pages from
    ``synth.make_corpus`` (file i holds pages ``i*P .. (i+1)*P - 1``) and
    return their paths in page order."""
    pages = synth.make_corpus(n_files * PAGES_PER_FILE, seed=seed)["pages"]
    for p in pages:
        p["warc_ts"] = p["warc_ts"].replace(tzinfo=timezone.utc)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(n_files):
        chunk = pages[i * PAGES_PER_FILE : (i + 1) * PAGES_PER_FILE]
        path = os.path.join(out_dir, f"pages-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pylist(chunk, schema=_PAGES), path)
        paths.append(path)
    return paths


# -- curation: planted near-duplicate clusters -------------------------------

# edge count above which connected_components runs the distributed star loop
CC_DRIVER_THRESHOLD = inspect.signature(canonicalize.connected_components).parameters[
    "driver_threshold"
].default
CLUSTER_SIZE = 32  # members per cluster
# verified edges per cluster: C(32, 2) Jaccard pairs plus the exact copy's edge
EDGES_PER_CLUSTER = CLUSTER_SIZE * (CLUSTER_SIZE - 1) // 2 + 1
# enough clusters for 5x driver_threshold verified edges, with 5% to spare
# for the pairs LSH misses (about 0.3% of them)
N_CLUSTERS = math.ceil(5 * CC_DRIVER_THRESHOLD * 1.05 / EDGES_PER_CLUSTER)
# the warm-up run's input: the first quarter of the clusters (still above
# driver_threshold) plus every singleton and junk document
WARMUP_CLUSTERS = N_CLUSTERS // 4
N_SINGLETONS = 150  # unrelated documents, each kept
N_JUNK = 50  # one word repeated: fails the quality gate
DOC_TOKENS = 80
MIN_QUALITY = 0.3

# 480 pronounceable words; texts also draw English stopwords, so their
# quality scores are ordinary, while junk repeats one non-stopword
_WORDS = [a + b + c for a in "bcdfghklmnprstvz" for b in "aeiou" for c in "nrstlm"]
_VOCAB = _WORDS + ["the", "and", "of", "to", "in", "is", "that", "for"] * 20


def n_docs() -> int:
    return N_CLUSTERS * CLUSTER_SIZE + N_SINGLETONS + N_JUNK


def cluster_of(doc_id: int) -> int | None:
    """The planted cluster of a document, None for singletons and junk."""
    return doc_id // CLUSTER_SIZE if doc_id < N_CLUSTERS * CLUSTER_SIZE else None


def near_dup_texts(seed: int) -> list[str]:
    """Text of every document, indexed by doc_id.

    Cluster c has a base text of ``DOC_TOKENS`` words. Member 0 is the
    base, member 1 an exact copy of it, and member m >= 2 the base with
    the word at one random position replaced. Two members differ in at
    most 6 of 78 word 3-shingles, so every pair in a cluster has Jaccard
    >= 0.857, above the 0.8 verify threshold; texts of different
    clusters share almost no shingles."""
    texts = []
    for c in range(N_CLUSTERS):
        rng = random.Random(f"{seed}:cluster:{c}")
        base = [rng.choice(_VOCAB) for _ in range(DOC_TOKENS)]
        for m in range(CLUSTER_SIZE):
            toks = list(base)
            if m > 1:
                toks[rng.randrange(DOC_TOKENS)] = rng.choice(_VOCAB)
            texts.append(" ".join(toks))
    for s in range(N_SINGLETONS):
        rng = random.Random(f"{seed}:single:{s}")
        texts.append(" ".join(rng.choice(_VOCAB) for _ in range(DOC_TOKENS)))
    for j in range(N_JUNK):
        texts.append(" ".join([random.Random(f"{seed}:junk:{j}").choice(_WORDS)] * 6))
    return texts


def write_near_dup_docs(seed: int, n_files: int, out_dir: str) -> None:
    """docs(doc_id, text, lang) as ``n_files`` parquet files, so a scan
    has ``n_files`` splits."""
    texts = near_dup_texts(seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        ids = list(range(f, len(texts), n_files))
        table = pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [texts[i] for i in ids],
                "lang": ["en"] * len(ids),
            }
        )
        pq.write_table(table, os.path.join(out_dir, f"docs-{f}.parquet"))
