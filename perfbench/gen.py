"""Seeded input generators for the benchmark.

Everything the workloads read is made here from ``--seed``: the same seed
and scale give byte-identical documents and the same label-report
bursts. The documents follow the sf0.1 fixture the registry's oracles
were written against (column names, types and value domains).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.40, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
P_NEAR_DUP = 0.04  # mutated copy of an earlier doc: 70% shared prefix
P_EXACT_DUP = 0.003

DOCS = 5000  # the sf0.1 corpus size; ``scale`` multiplies it


def _write(tbl: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=16384)
    os.replace(tmp, path)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """The sf0.1 corpus shape: 30-word vocabulary, 10-100 tokens per doc,
    20 sources, ~4% near-duplicates and ~0.3% exact duplicates."""
    texts: list[str] = []
    kind = rng.random(n)
    vocab = np.array(VOCAB)
    for i in range(n):
        if i > 0 and kind[i] < P_EXACT_DUP:
            txt = texts[int(rng.integers(i))]
        elif i > 0 and kind[i] < P_EXACT_DUP + P_NEAR_DUP:
            toks = texts[int(rng.integers(i))].split(" ")
            cut = max(1, int(len(toks) * 0.7))
            txt = " ".join(toks[:cut] + list(vocab[rng.integers(30, size=len(toks) - cut)]))
        else:
            txt = " ".join(vocab[rng.integers(30, size=int(rng.integers(10, 101)))])
        texts.append(txt)
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_W)]
    sources = [f"src{s}" for s in rng.integers(N_SOURCES, size=n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(out_dir: str, seed: int, scale: float) -> str:
    """Write ``<out_dir>/documents.parquet`` for this seed and scale."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    _write(documents(rng, max(50, round(DOCS * scale))), os.path.join(out_dir, "documents.parquet"))
    return out_dir


# ---- label reports -----------------------------------------------------------

REPORT_TYPES = ["ransomware", "darknet", "sextortion", "scam", "other"]


@dataclass
class ReportStream:
    """Bitcoinabuse-shaped abuse reports published as bursts of pages.

    Addresses come from a fixed pool with Zipf skew, so later bursts
    mostly update addresses already in the store and still insert some
    new ones. A report's label is (type, amount band); repeated reports
    of the same label on an address change nothing, which is what makes
    the store's write amplification grow with its size.

    ``truth`` maps each user id to the set of label keys published so
    far: the ground truth for read-your-writes checks.
    """

    seed: int
    pool: int = 20000
    page_rows: int = 500
    zipf_a: float = 1.2
    truth: dict[int, set[tuple[str, str]]] = field(default_factory=dict)
    rows: list[tuple[int, int, str, float]] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng([self.seed, 99])
        # Zipf rank → pool slot through a fixed permutation, so the hot
        # addresses are spread over the id space (and the store buckets).
        self._perm = self._rng.permutation(self.pool)

    def burst(self, n_pages: int) -> tuple[list[tuple], int]:
        """Draw one burst; returns its rows and the number of addresses
        whose label set it changed (new or updated)."""
        n = n_pages * self.page_rows
        ranks = np.minimum(self._rng.zipf(self.zipf_a, size=n) - 1, self.pool - 1)
        users = self._perm[ranks]
        kinds = self._rng.integers(len(REPORT_TYPES), size=n)
        amounts = np.round(self._rng.choice([0.01, 0.1, 1.0, 10.0], size=n), 2)
        first_id = len(self.rows)
        changed: set[int] = set()
        out = []
        for i in range(n):
            row = (first_id + i, int(users[i]), REPORT_TYPES[kinds[i]], float(amounts[i]))
            lbl = label_key(row)
            have = self.truth.setdefault(row[1], set())
            if lbl not in have:
                have.add(lbl)
                changed.add(row[1])
            out.append(row)
        self.rows.extend(out)
        return out, len(changed)

    def pick_lookups(self, burst_rows: list[tuple], k: int) -> list[int]:
        """Half from the burst just published, half from the whole pool;
        pool picks include addresses never reported (misses)."""
        from_burst = [burst_rows[int(i)][1] for i in self._rng.integers(len(burst_rows), size=k // 2)]
        from_pool = [int(u) for u in self._rng.integers(self.pool, size=k - k // 2)]
        return from_burst + from_pool


def label_key(row: tuple) -> tuple[str, str]:
    """(type, desc) of the label one report row produces — must agree
    with ``refresh.extract_labels``."""
    return (row[2], f"{row[3]:.2f}")


def addr_of(user_id: int) -> str:
    return f"addr{user_id:06d}"


def publish_burst(pages_dir: str, first_page: int, rows: list[tuple], page_rows: int) -> int:
    """Append ``rows`` to the paged layout as pages ``first_page..``.

    The burst becomes visible to the cursor walk in one step: the new
    pages and their own ``.next`` pointers are written first, and the
    link from the previous chain head (``page-<first_page-1>.next``) is
    swapped in last with an atomic rename. For the very first burst the
    head page's ``.next`` is the last file written. Returns the number
    of pages written."""
    os.makedirs(pages_dir, exist_ok=True)
    pages = [rows[i : i + page_rows] for i in range(0, len(rows), page_rows)]
    last = first_page + len(pages) - 1
    for j, page in enumerate(pages):
        n = first_page + j
        body = "".join(
            json.dumps({"event_id": r[0], "user_id": r[1], "event_type": r[2], "value": r[3]}) + "\n"
            for r in page
        )
        with open(os.path.join(pages_dir, f"page-{n}.json"), "w") as f:
            f.write(body)
        if n != first_page or first_page > 0:
            _atomic_write(os.path.join(pages_dir, f"page-{n}.next"),
                          f"page-{n + 1}.json" if n < last else "")
    if first_page > 0:
        _atomic_write(os.path.join(pages_dir, f"page-{first_page - 1}.next"), f"page-{first_page}.json")
    else:
        _atomic_write(os.path.join(pages_dir, f"page-{first_page}.next"),
                      f"page-{first_page + 1}.json" if last > first_page else "")
    return len(pages)


def _atomic_write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)
