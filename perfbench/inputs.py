"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files
(text or parquet) into a directory; the engine only ever sees those
files. Each generator also returns what the checks need: the expected
answer derived independently of the engine, plus input sizes.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: C-locale ``ispunct``: the four contiguous ASCII ranges, plus the
#: newline the reference also deletes. Spelled out here rather than
#: imported so the expected counts do not depend on engine code.
_PUNCT = "\n" + "".join(
    chr(c) for lo, hi in ((0x21, 0x2F), (0x3A, 0x40), (0x5B, 0x60), (0x7B, 0x7E))
    for c in range(lo, hi + 1))
_PUNCT_BYTES = _PUNCT.encode("ascii")

# Non-ASCII words whose lower case is the same in Java and Python
# (no final sigma, no dotted capital I).
_NON_ASCII = ["café", "Café", "CAFÉ", "naïve", "straße", "Ωmega", "über",
              "Über", "日本語", "niño", "Niño", "crème"]


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def reference_tokens(text: str) -> list[str]:
    """The reference's tokenizer: delete newline and C-locale
    punctuation, lower-case, split on single spaces, drop empties.
    Tabs are not separators and stay inside tokens. (Deleting ASCII
    bytes from UTF-8 is exact: multi-byte sequences hold no ASCII.)"""
    clean = text.encode("utf-8").translate(None, _PUNCT_BYTES).decode("utf-8")
    return [t for t in clean.lower().split(" ") if t]


def _pseudo_words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lower-case words; the i-th is 3 + i % 8 letters
    long, so a Zipf draw over them has the same byte size for every
    seed and frequent words are short."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        size = 3 + len(out) % 8
        w = rng.integers(97, 123, size=size, dtype=np.uint8).tobytes().decode("ascii")
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------- wordcount

def gen_corpus(out_dir: str, seed: int, n_files: int = 16,
               mb: float = 4.0, vocab: int = 20000) -> dict:
    """A plaintext directory with a Zipf vocabulary and the tokenizer's
    edge cases: mixed case, punctuation next to words, tabs, runs of
    spaces, empty lines and non-ASCII words. Returns the expected
    per-file word counts under the reference's rules."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    words = np.array(_pseudo_words(rng, vocab) + _NON_ASCII, dtype=object)
    ranks = np.arange(1, len(words) + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / ranks ** 1.07)
    cdf /= cdf[-1]
    per_file = int(mb * 1e6 / n_files)
    expected: dict[str, Counter] = {}
    tokens = 0
    for i in range(n_files):
        name = f"part_{i:02d}.txt"
        n_tok = per_file // 6
        toks = words[np.searchsorted(cdf, rng.random(n_tok))]
        # decorate a seeded share of tokens with the edge cases
        kind = rng.integers(0, 40, size=n_tok)
        for k, fn in enumerate((str.upper, str.capitalize, lambda t: t + ",",
                                lambda t: f"({t})", lambda t: t + "'s",
                                lambda t: t + ".", lambda t: "--")):
            idx = np.flatnonzero(kind == k)
            toks[idx] = [fn(t) for t in toks[idx]]
        seps = np.full(n_tok, " ", dtype=object)
        sk = rng.integers(0, 50, size=n_tok)
        seps[sk == 0] = "\t"                               # joins two words
        seps[sk == 1] = "  "                               # empty token
        seps[sk == 2] = "\n"
        seps[sk == 3] = "\n\n"                             # empty line
        seps[rng.integers(0, 12, size=n_tok) == 0] = "\n"  # ~12 words a line
        text = "".join((toks + seps).tolist()) + "\n"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
            fh.write(text)
        c = Counter(reference_tokens(text.replace("\n", " ")))
        expected[name] = c
        tokens += sum(c.values())
    return {"dir": out_dir, "files": n_files, "bytes": dir_bytes(out_dir),
            "tokens": tokens, "expected": expected}


def wordcount_part_texts(out_dir: str) -> dict[str, list[str]]:
    """The text of every part file of a ``final_output`` tree
    (``doc_id=<file>/part-*``), per file, in part-name order."""
    out: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith("doc_id="):
            continue
        texts = out.setdefault(entry[len("doc_id="):], [])
        for part in sorted(os.listdir(os.path.join(out_dir, entry))):
            if not part.startswith((".", "_")):
                with open(os.path.join(out_dir, entry, part), encoding="utf-8",
                          newline="\n") as fh:
                    texts.append(fh.read())
    return out


def expected_wordcount_text(counts: Counter) -> str:
    """One file's ``(word,count)`` lines in the reference's order:
    ascending by word (code-point order, which is UTF-8 byte order)."""
    return "".join(f"({w},{n})\n" for w, n in sorted(counts.items()))


def parse_wordcount_parts(parts: dict[str, list[str]]) -> tuple[dict[str, Counter], int, list[str]]:
    """Parse the part texts of a ``final_output`` tree (as
    ``wordcount_part_texts`` returns them): ``(word,count)`` lines.
    Returns (counts per file, number of part files, problems found: bad
    lines, unsorted or repeated words)."""
    got: dict[str, Counter] = {}
    n_files, problems = 0, []
    for doc, texts in parts.items():
        c = got.setdefault(doc, Counter())
        for i, text in enumerate(texts):
            n_files += 1
            lines = [ln for ln in text.split("\n") if ln]
            words = []
            for line in lines:
                w, _, n = line[1:-1].rpartition(",")
                if line[0] != "(" or line[-1] != ")" or not w or not n.isdigit():
                    problems.append(f"{doc}: bad line {line[:40]!r}")
                    continue
                words.append(w)
                c[w] += int(n)
            if any(a >= b for a, b in zip(words, words[1:])):
                problems.append(f"{doc}/part {i}: words not in strictly ascending order")
    return got, n_files, problems


# ---------------------------------------------------------------- star schema

def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _days(rng, n, lo: str, hi: str) -> pa.Array:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((d1 - d0).astype(int)) + 1, size=n)
    us = (d0.astype("datetime64[us]").astype(np.int64)
          + days.astype(np.int64) * 86_400_000_000)
    return pa.array(us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    # one file, one row group: the shape of the repository's sf fixtures
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def gen_star(out_dir: str, seed: int, sf: float = 0.1) -> dict:
    """The star-schema tables of FIXTURES.md (region .. lineitem and
    events) at scale factor ``sf`` (lineitem has 6,000,000 x sf rows).

    Row counts, column types, value ranges and value sets follow the
    footers and statistics of the repository's sf0.1 parquet fixtures:
    uniform independent keys and measures, every timestamp stored as
    ``timestamp[us]`` (the files' unit; FIXTURES.md lists ms and ns),
    ``events.user_id`` over the first tenth of the customer keys."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    i32 = pa.int32()
    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}))
    colors = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    nouns = np.array(["ring", "gear", "widget", "gizmo", "bolt", "plate", "rod", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}))
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}))
    t0 = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])
        [rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    return {"dir": out_dir, "sf": sf, "bytes": dir_bytes(out_dir),
            "lineitem_rows": n_li}


# ---------------------------------------------------------------- versioned

VERSIONED_SCHEMA = pa.schema([("k", pa.int64()), ("l_quantity", pa.float64()),
                              ("l_extendedprice", pa.float64()),
                              ("l_returnflag", pa.string())])


class VersionedPlan:
    """Lineitem-shaped batches for one append chain plus the mutations
    that follow it, and the table state after every step, tracked in
    Python as ``{k: extendedprice}`` per published version."""

    def __init__(self, out_dir: str, seed: int, batches: int = 4,
                 rows: int = 4000):
        rng = np.random.default_rng(seed)
        os.makedirs(out_dir, exist_ok=True)
        self.rows, self.batches = rows, []
        for b in range(batches):
            keys = b * rows + rng.permutation(rows).astype(np.int64)
            self.batches.append(self._write(out_dir, f"batch_{b:02d}", keys, rng))
        # each mutation touches keys of one batch, so pruning has dirs to skip
        n = batches * rows
        self.cow_keys = sorted(int(k) for k in rng.choice(rows, 20, replace=False))
        self.dv_keys = sorted(int(k) for k in rows + rng.choice(rows, 20, replace=False))
        upd = n - rows + rng.choice(rows, 200, replace=False)
        ins = np.arange(n, n + 50, dtype=np.int64)
        self.merge = self._write(out_dir, "merge", np.concatenate([upd, ins]), rng)
        self.point_keys = [sorted(int(k) for k in rng.choice(rows, 3, replace=False) + b * rows)
                           for b in range(batches)]
        self.bytes = dir_bytes(out_dir)

    def _write(self, out_dir, name, keys, rng) -> dict:
        n = len(keys)
        t = pa.table({
            "k": keys.astype(np.int64),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)]},
            schema=VERSIONED_SCHEMA)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        return {"path": path,
                "rows": dict(zip(t.column("k").to_pylist(),
                                 t.column("l_extendedprice").to_pylist()))}
