"""Seeded input generators — the benchmark's ``gen`` layer.

Everything the engine reads is made here from the workload seed, so a run
needs nothing outside its checkout and the same seed always gives the same
bytes:

- :func:`write_tables` writes the ten test tables of ``TESTDATA.md`` (TPC-H-ish star schema
  plus ``events``, ``documents`` and ``embeddings``) as one parquet file
  each, with their schema and value distributions at a given scale
  factor;
- :func:`app_lines` builds the three reference-app inputs in ``bench.py``'s
  line formats (documents text, ``follower followee`` edges, Common-Log
  lines) and their pure-Python top-5 references;
- :func:`trickle_main` is the open-loop file generator that
  ``stream_trickle`` runs as a subprocess (``python3 gen.py trickle ...``).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

import numpy as np

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TOP_K = 5
# Content that the workload seed does not vary, as the tables of
# TESTDATA.md are fixed (seed 42): the seed then moves only order and choice, so two
# seeds run the same plans and their job and task counts can be compared.
CONTENT_SEED = 42


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _price(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts of 10-99 words over a 30-word vocabulary; ~5 % are a
    copy of another document with `` dup`` appended (the near-duplicates
    the dedup queries look for)."""
    lens = rng.integers(10, 100, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(WORDS[i] for i in picks[at:at + k]))
        at += k
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def tables(sf: float, seed: int) -> dict[str, dict]:
    """Column arrays of every test table at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), max(500, int(20_000 * sf)), int(15_000 * sf)
    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _price(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _price(rng, -999.99, 9999.99, n_supp),
    }
    out["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _price(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _price(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    out["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts = _documents(rng, n_doc)
    out["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(sf, seed).items():
        arrays = {}
        for col, vals in cols.items():
            if isinstance(vals, np.ndarray) and vals.ndim == 2:
                arrays[col] = pa.FixedSizeListArray.from_arrays(
                    pa.array(vals.ravel()), vals.shape[1]
                ).cast(pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(vals)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))


# -- reference-app inputs ---------------------------------------------------

def _wordcount_ref(lines: list[str]) -> Counter:
    c: Counter = Counter()
    for line in lines:
        c.update(line.split())
    return c


def _top_users_ref(lines: list[str]) -> Counter:
    c: Counter = Counter()
    for line in lines:
        f = line.split()
        if len(f) == 2:
            c[f[1]] += 1
    return c


def _hot_resources_ref(lines: list[str]) -> Counter:
    c: Counter = Counter()
    for line in lines:
        if "200" in line:
            f = line.split()
            if len(f) >= 10:
                c[f[6]] += 1
    return c


def top_k(counts: Counter, k: int = TOP_K) -> list[tuple[str, int]]:
    """Count desc, key asc — the engine's total order for ties."""
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def app_lines(scale: float, seed: int) -> dict[str, dict]:
    """The three app inputs at ``scale`` × ``bench.py``'s sf0.1 sizes
    (~44 MB of documents text, ~39 MB of edges, ~36 MB of CLF lines).

    Each input is a base set of lines (documents; ``event_id user_id``
    edges; CLF lines keyed by event type, from ``CONTENT_SEED``) replicated
    to the target size, as ``bench.py`` does, then shuffled by ``seed``. The
    top-5 reference is the pure-Python count over the base lines times the
    number of copies.
    """
    rng = np.random.default_rng(CONTENT_SEED)
    n_ev, n_users = 100_000, 1_500
    docs = _documents(rng, 5_000)
    users = rng.integers(0, n_users, n_ev)
    types = rng.integers(0, 5, n_ev)
    values = np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)
    edges = [f"{e} {u}" for e, u in zip(range(n_ev), users.tolist())]
    clf = [
        f'host{u % 50} - - [01/Jan/2026:00:00:00 +0000] "GET /r/{EVENT_TYPES[t]} '
        f'HTTP/1.0" {404 if v < 25.0 else 200} {max(int(v), 1)}'
        for u, t, v in zip(users.tolist(), types.tolist(), values.tolist())
    ]
    suites = {
        "wordCount": (docs, 44.0, _wordcount_ref),
        "twitter": (edges, 39.0, _top_users_ref),
        "hothttp": (clf, 36.0, _hot_resources_ref),
    }
    rng, out = np.random.default_rng(seed), {}
    for app, (base, target_mb, ref) in suites.items():
        nbytes = sum(len(s) + 1 for s in base)
        copies = max(1, round(target_mb * scale * 1024 * 1024 / nbytes))
        order = rng.permutation(len(base) * copies) % len(base)
        counts = ref(base)
        out[app] = {
            "text": "\n".join(base[i] for i in order) + "\n",
            "lines": len(order),
            "expected": top_k(Counter({k: v * copies for k, v in counts.items()})),
        }
    return out


def trickle_lines(seed: int, n_files: int, lines_per_file: int) -> list[list[str]]:
    """Documents lines, chosen by ``seed``, for each file the trickle
    generator will land."""
    docs = _documents(np.random.default_rng(CONTENT_SEED), 5_000)
    rng = np.random.default_rng(seed)
    picks = rng.integers(0, len(docs), (n_files, lines_per_file))
    return [[docs[i] for i in row] for row in picks]


def trickle_main(argv: list[str]) -> int:
    """Open-loop generator: land file ``i`` at ``t0 + i * period`` whatever
    the consumer does (write to a staging dir, then rename into the watched
    dir), and log each file's due and landed wall time as one JSON line.

    Arguments: ``spec.json`` written by the workload (``dir``, ``staging``,
    ``log``, ``t0``, ``period_s``, ``files`` — a list of line lists).
    """
    with open(argv[0]) as fh:
        spec = json.load(fh)
    with open(spec["log"], "w") as log:
        for i, lines in enumerate(spec["files"]):
            due = spec["t0"] + i * spec["period_s"]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            name = f"f{i:06d}.txt"
            tmp = os.path.join(spec["staging"], name)
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.rename(tmp, os.path.join(spec["dir"], name))
            log.write(json.dumps({"i": i, "due": due, "landed": time.time(),
                                  "rows": len(lines)}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["trickle"]:
        raise SystemExit(trickle_main(sys.argv[2:]))
    raise SystemExit("usage: gen.py trickle <spec.json>")
