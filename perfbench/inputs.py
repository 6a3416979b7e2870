"""Input generators for the benchmark workloads.

Everything here is plain NumPy/pandas/pyarrow: the program under test only
ever sees the files these functions write.

* :func:`write_analyst_tables` writes the ten tables the registry queries
  read (the TPC-H-ish star schema of TESTDATA.md plus ``events``,
  ``documents`` and ``embeddings``) at about sf0.01, with the same column
  names, physical types and value families.  These tables are FROZEN (fixed generator seed)
  so that every query's row count and order-insensitive hash can be checked
  against values recorded in ``query_mix_expected.json``; the run seed only
  shuffles the query order.
* :func:`curation_batches` builds a seeded crawl corpus whose ledger is
  known by construction (see its docstring).
* :func:`detection_chunks` builds a seeded multi-camera detection stream.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 20240101

_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts_us(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype("int64")
    return pa.array(base + offsets_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_analyst_tables(out_dir: str) -> int:
    """Write the ten query tables under ``out_dir`` (one parquet file each)
    and return the total row count."""
    rng = np.random.default_rng(TABLES_SEED)
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    n_ev, n_docs, n_vec = 10000, 500, 500
    day_us = 86_400 * 1_000_000
    i32 = pa.int32()
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2400, n_ord) * day_us),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2500, n_li) * day_us),
    })
    ev_offsets = np.sort(rng.integers(0, 30 * day_us, n_ev))
    event_types = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts_us("2024-01-01", ev_offsets),
        "user_id": pa.array(rng.integers(0, 150, n_ev)),
        "event_type": event_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: 30-word vocabulary salad; ~5 % are an earlier document
    # with " dup" appended (the planted near-duplicates the dedup family
    # finds)
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    langs = np.array(["en", "en", "zh", "es", "fr", "de"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: 64-d unit vectors around 10 weak label centres
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] * 0.5 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return sum(t.num_rows for t in tables.values())


# ---------------------------------------------------------------------------
# curation_stream corpus

def _pseudo_vocab(n: int) -> np.ndarray:
    """``n`` distinct pronounceable words.  A vocabulary this wide keeps
    accidental 3-word-shingle overlap between independent documents
    negligible, so every near-duplicate in the corpus is a planted one."""
    onsets = list("bcdfghjklmnprstvwz")
    vowels = ["a", "e", "i", "o", "u", "ai", "ou"]
    syll = [o + v for o in onsets for v in vowels]
    words = [a + b for a in syll for b in syll]
    return np.array(words[:n])


def bench_suite_texts(n: int = 100) -> list[str]:
    """The held-out evaluation suite the decontamination gate protects;
    token-disjoint from the crawl vocabulary."""
    return [" ".join(f"benchtok{i}_{j}" for j in range(40)) for i in range(n)]


def write_bench_shingles(path: str) -> None:
    """The suite's distinct 3-word shingles (column ``s``), the form the
    ingest handler's decontamination gate reads.  The suite's texts are
    lower-case and single-spaced, so splitting on spaces is the package's
    own tokenization; the ledger check would catch any drift."""
    shingles = sorted({
        " ".join(words[i:i + 3])
        for words in (t.split(" ") for t in bench_suite_texts())
        for i in range(len(words) - 2)
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"s": shingles}), os.path.join(path, "part-0.parquet"))


@dataclass
class CurationCorpus:
    """Crawl batches plus the ledger every document must end up in.

    ``batches[b]`` is a DataFrame (doc_id, text, source);
    ``expected[doc_id]`` is ``("clean", None)`` or ``(reason, detail)``
    where ``detail`` is the earliest id a ``near_dup`` copies (``None`` for
    the other reasons, whose detail is a score)."""

    batches: list[pd.DataFrame]
    expected: dict[int, tuple[str, int | None]] = field(default_factory=dict)
    prefold_copies: set[int] = field(default_factory=set)


def curation_batches(
    seed: int, n_batches: int, batch_docs: int, fold_upto: int
) -> CurationCorpus:
    """Seeded crawl batches for the curation workload.

    Each batch holds ``batch_docs`` fresh documents (10-90 words from a wide
    pseudo-word vocabulary) plus planted rows whose fate is known:

    * ~1 % exact copies of an earlier fresh document -> ``near_dup`` of it;
    * ``batch_docs // 50`` copies of one boilerplate page (the hot key of
      the band join) -> the very first copy is clean, every later copy is a
      ``near_dup`` of it;
    * two degenerate one-word documents -> ``quality``;
    * two copies of evaluation-suite texts -> ``contaminated``;
    * in every batch after ``fold_upto``, three copies of batch-0
      documents -> ``near_dup`` of the original; once the fold through
      ``fold_upto`` is pruned, those signatures live only in the compacted
      generation.
    """
    rng = np.random.default_rng([seed, 1])
    vocab = _pseudo_vocab(4096)
    boiler = " ".join(vocab[rng.integers(0, len(vocab), 60)])
    bench = bench_suite_texts()
    corpus = CurationCorpus(batches=[])
    originals: list[tuple[int, str]] = []  # fresh, clean documents so far
    batch0: list[tuple[int, str]] = []
    first_boiler: int | None = None
    n_hot = max(1, batch_docs // 50)
    for b in range(n_batches):
        base = (b + 1) * 1_000_000
        rows: list[tuple[int, str]] = []
        for j in range(batch_docs):
            doc_id = base + j
            if originals and rng.random() < 0.01:
                orig_id, text = originals[int(rng.integers(0, len(originals)))]
                rows.append((doc_id, text))
                corpus.expected[doc_id] = ("near_dup", orig_id)
                continue
            text = " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 91))])
            rows.append((doc_id, text))
            corpus.expected[doc_id] = ("clean", None)
            originals.append((doc_id, text))
            if b == 0:
                batch0.append((doc_id, text))
        nxt = base + batch_docs
        for k in range(n_hot):
            rows.append((nxt, boiler))
            if first_boiler is None:
                first_boiler = nxt
                corpus.expected[nxt] = ("clean", None)
            else:
                corpus.expected[nxt] = ("near_dup", first_boiler)
            nxt += 1
        for k in range(2):
            word = vocab[int(rng.integers(0, len(vocab)))]
            rows.append((nxt, " ".join([word] * int(rng.integers(20, 60)))))
            corpus.expected[nxt] = ("quality", None)
            nxt += 1
            rows.append((nxt, bench[int(rng.integers(0, len(bench)))]))
            corpus.expected[nxt] = ("contaminated", None)
            nxt += 1
        if b > fold_upto:
            for k in range(3):
                orig_id, text = batch0[int(rng.integers(0, len(batch0)))]
                rows.append((nxt, text))
                corpus.expected[nxt] = ("near_dup", orig_id)
                corpus.prefold_copies.add(nxt)
                nxt += 1
        order = rng.permutation(len(rows))
        df = pd.DataFrame(
            [(rows[i][0], rows[i][1], f"src{rows[i][0] % 20}") for i in order],
            columns=["doc_id", "text", "source"],
        )
        corpus.batches.append(df)
    return corpus


# ---------------------------------------------------------------------------
# vetl_stream detections

FRAMES_PER_CHUNK = 20  # 2 s at 10 fps


def detection_chunks(
    seed: int, n_chunks: int, n_cameras: int, live_objects: int
) -> list[pd.DataFrame]:
    """Seeded multi-camera detections, one DataFrame per 2-second chunk.

    Each camera keeps about ``live_objects`` boxes alive; a box moves with
    constant velocity, appears at a random frame and expires after 2-12 s
    or when it leaves the 1280x720 frame.  Coordinates are rounded to
    1/100 px so the streamed and batch trackers see identical doubles."""
    rng = np.random.default_rng([seed, 2])
    w, h = 1280.0, 720.0
    n_frames = n_chunks * FRAMES_PER_CHUNK
    per_cam: list[pd.DataFrame] = []
    for cam in range(n_cameras):
        # Poisson births at the rate that keeps ~live_objects alive
        mean_life = 70.0
        n_obj = int(live_objects * n_frames / mean_life) + live_objects
        start = rng.integers(-int(mean_life), n_frames, n_obj)
        life = rng.integers(20, 121, n_obj)
        bw = rng.uniform(30, 120, n_obj)
        bh = bw * rng.uniform(0.8, 2.5, n_obj)
        x = rng.uniform(0, w - bw)
        y = rng.uniform(0, h - bh)
        vx = rng.uniform(-6, 6, n_obj)
        vy = rng.uniform(-3, 3, n_obj)
        frames, x0s, y0s, x1s, y1s = [], [], [], [], []
        for o in range(n_obj):
            f = np.arange(max(0, start[o]), min(n_frames, start[o] + life[o]))
            if len(f) == 0:
                continue
            t = f - start[o]
            ox, oy = x[o] + vx[o] * t, y[o] + vy[o] * t
            keep = (ox >= 0) & (oy >= 0) & (ox + bw[o] <= w) & (oy + bh[o] <= h)
            f, ox, oy = f[keep], ox[keep], oy[keep]
            frames.append(f)
            x0s.append(ox)
            y0s.append(oy)
            x1s.append(ox + bw[o])
            y1s.append(oy + bh[o])
        per_cam.append(pd.DataFrame({
            "stream": f"cam{cam}",
            "frame_no": np.concatenate(frames).astype("int64"),
            "x0": np.round(np.concatenate(x0s), 2),
            "y0": np.round(np.concatenate(y0s), 2),
            "x1": np.round(np.concatenate(x1s), 2),
            "y1": np.round(np.concatenate(y1s), 2),
        }))
    det = pd.concat(per_cam, ignore_index=True)
    det = det.sort_values(["frame_no", "stream", "x0", "y0"], kind="mergesort")
    chunk = det["frame_no"] // FRAMES_PER_CHUNK
    return [
        g.reset_index(drop=True)
        for _, g in det.groupby(chunk, sort=True)
    ]
