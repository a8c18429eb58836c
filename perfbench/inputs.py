"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

The program under test only ever sees the generated files. Inputs are built
in a child process (`python3 -m perfbench.inputs KIND DIR WORKLOAD SEED`),
so the run's own peak memory holds none of the generators' work.

The CDC inputs come from the program's own WAL generator (`fixtures.walgen`)
as one log, so LWW by lsn stays well defined across every epoch the run
applies. The log is cut into small equal segments and handed out in this
order:

    warm-up   1 v0 segment                    (set-up, not measured)
    bulk      BULK_SEGMENTS v0 + BULK_SEGMENTS v1 segments, as one epoch
    trickle   v1 segments (the schema after the change), released one at
              a time on the open-loop schedule (as many as --seconds allows)

so the epochs the run applies follow the log's lsn order.

Catalog inputs (traced run only) are `documents`, `embeddings` and `events`
from tools/gen_scale_data.py's generators: CATALOG_DOCS documents over the
sf0.1 vocabulary, the first CATALOG_VECS of its sf0.1 embeddings, and its
sf0.1 events (100k).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zlib
from dataclasses import dataclass

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SEGMENT_EVENTS = 1_000
BULK_SEGMENTS = 15          # per schema version: 30k bulk events of ~600 B turns
TRICKLE_SEGMENTS = 16       # enough for --seconds up to 60 at the offered rate
TEXT_LEN = 600

WORKLOADS = {
    # share of events on the single hot conversation (conv-00000)
    "hot_key": {"hot_frac": 0.2},
    "uniform": {"hot_frac": 0.0},
}

#: word list of the sf0.1 `documents` test table (31 words)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
#: Task time of the cold pipelines over wall x 4 cores, measured at
#: local[4] with 600 vectors: dedup_corpus 0.27 / 0.28 / 0.32 at 1.5k / 3k /
#: 5k documents, corpus_pipeline 0.22 / 0.26 / 0.30; at 10k documents (4k
#: vectors) 0.71 and 0.32, but the catalog alone then takes minutes. Job
#: overhead dominates at every size a traced run can afford; 3k keeps the
#: catalog near 30 s of a traced run that must end within 180 s.
CATALOG_DOCS = 3_000
#: gen_embeddings makes 2k (sf0.1). dedup_semantic's DuckDB oracle is an
#: all-pairs cosine join that takes ~26 s at 2k and ~5 s at 600; its
#: near-dup clusters sit within 20 rows of their base, so a prefix keeps
#: the shape.
CATALOG_VECS = 400


@dataclass(frozen=True)
class CdcInputs:
    warmup: list[str]
    bulk: dict[str, list[str]]          # schema version -> paths, one epoch
    trickle: list[tuple[str, str]]      # (path, version) in release order


def _seed(workload: str, seed: int) -> int:
    return zlib.crc32(f"{workload}:{seed}".encode())


def _wal_layout() -> tuple[int, int]:
    n_v0 = 1 + BULK_SEGMENTS
    n_v1 = BULK_SEGMENTS + TRICKLE_SEGMENTS
    return n_v0, n_v1


def _build_wal(path: str, workload: str, seed: int) -> None:
    from nifi_daffodil_spark.fixtures.walgen import WalSpec, generate_wal

    n_v0, n_v1 = _wal_layout()
    n_seg = n_v0 + n_v1
    spec = WalSpec(
        n_events=n_seg * SEGMENT_EVENTS,
        n_convs=500,
        turns_per_conv=50,
        n_segments=n_seg,
        seed=_seed(workload, seed) % (2**31),
        text_len=TEXT_LEN,
        # walgen takes int(n_segments * evolve_at) v0 segments
        evolve_at=(n_v0 + 0.5) / n_seg,
        **WORKLOADS[workload],
    )
    m = generate_wal(path, spec)
    with open(os.path.join(path, "segments.json"), "w") as f:
        json.dump({"v0": m["v0"], "v1": m["v1"]}, f)


def _build_catalog(path: str, workload: str, seed: int) -> None:
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import gen_scale_data as gs

    rng = np.random.default_rng(_seed(workload, seed))
    # gen_documents takes its vocabulary and row count from SRC's documents
    # table: point it at a shape table of CATALOG_DOCS rows over VOCAB
    shape = os.path.join(path, "shape")
    os.makedirs(shape)
    pq.write_table(pa.table({"text": [" ".join(VOCAB)] * CATALOG_DOCS}),
                   os.path.join(shape, "documents.parquet"))
    gs.SRC = shape
    gs.gen_documents(path, 1, rng)
    gs.gen_embeddings(path, 1, rng)
    emb = os.path.join(path, "embeddings.parquet")
    pq.write_table(pq.read_table(emb).slice(0, CATALOG_VECS), emb)
    gs.gen_events(path, 1, rng)
    shutil.rmtree(shape)


_BUILDERS = {"wal": _build_wal, "catalog": _build_catalog}


def _cached(kind: str, path: str, workload: str, seed: int) -> None:
    marker = os.path.join(path, "_complete")
    if os.path.exists(marker):
        return
    os.makedirs(path, exist_ok=True)
    subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", kind, path, workload, str(seed)],
        cwd=REPO, stdout=sys.stderr, check=True,
    )
    with open(marker, "w") as f:
        f.write("ok")


def cdc_inputs(cache: str, workload: str, seed: int) -> CdcInputs:
    n_v0, n_v1 = _wal_layout()
    d = os.path.join(cache, f"wal-{workload}-{seed}-{n_v0 + n_v1}x{SEGMENT_EVENTS}")
    _cached("wal", d, workload, seed)
    with open(os.path.join(d, "segments.json")) as f:
        m = json.load(f)
    v0, v1 = m["v0"], m["v1"]
    if len(v0) != n_v0 or len(v1) != n_v1:
        raise RuntimeError(f"unexpected WAL layout under {d}")
    b = BULK_SEGMENTS
    return CdcInputs(
        warmup=v0[:1],
        bulk={"v0": v0[1 : 1 + b], "v1": v1[:b]},
        trickle=[(p, "v1") for p in v1[b:]],
    )


def catalog_inputs(cache: str, workload: str, seed: int) -> str:
    """Directory holding documents/embeddings/events.parquet."""
    d = os.path.join(cache, f"catalog-{workload}-{seed}-{CATALOG_DOCS}x{CATALOG_VECS}")
    _cached("catalog", d, workload, seed)
    return d


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    kind, path, workload, seed = sys.argv[1:]
    _BUILDERS[kind](path, workload, int(seed))
