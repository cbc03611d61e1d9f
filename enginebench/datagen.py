"""Seeded input generators. The same seed gives byte-identical inputs.

Each generator returns the data the engine reads plus the facts the
output checks need (planted failures, duplicates and neighbours), so the
engine only ever sees generated files and the benchmark knows the answer.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np

from .stub import fate

# -- vocabulary --------------------------------------------------------------

_MARKERS = [
    "the", "and", "of", "to", "in", "is", "a",
    "el", "la", "de", "que", "y", "los",
    "le", "et", "les", "des", "un",
    "der", "die", "und", "das", "ist", "ein",
]


def vocabulary(n: int = 3000) -> list[str]:
    """Seed-independent word list: synthetic syllable words + stopwords."""
    rng = np.random.default_rng(12345)
    syl = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(1, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return sorted(words) + _MARKERS


def _text(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    return " ".join(vocab[int(i)] for i in rng.integers(0, len(vocab), n_words))


# -- LLM job records ---------------------------------------------------------

TEMPLATE = "Title: {{ texts['title'] }}\n\n{{ texts['body'] }}"


def prompt_of(title: str, body: str) -> str:
    """What TEMPLATE renders to; the benchmark's own formula."""
    return f"Title: {title}\n\n{body}"


@dataclass
class LLMInputs:
    lines: list[str]  # JSONL lines in file order
    prompts: dict[str, str]  # valid record id -> prompt
    fates: dict[str, str]  # valid record id -> ok / transient / permanent
    corrupt: int
    expected_requests: int = 0  # one request per valid record, plus retries
    min_requests: int = 0  # the same with each distinct prompt sent once

    @property
    def n_valid(self) -> int:
        return len(self.prompts)

    def dead_ids(self) -> set[str]:
        return {i for i, f in self.fates.items() if f == "permanent"}


def _lengths(rng: np.random.Generator, lo: int, hi: int, n: int) -> list[int]:
    """``n`` lengths spread evenly over [lo, hi] in seeded order, so every
    seed gets the same total amount of text."""
    lens = np.linspace(lo, hi, n).round().astype(int) if n else np.array([], int)
    rng.shuffle(lens)
    return lens.tolist()


def _plan(rng: np.random.Generator, n: int, shares: dict[str, float], rest: str) -> list[str]:
    """Exactly ``round(share * n)`` of each kind, the rest ``rest``, shuffled."""
    kinds = [k for k, sh in shares.items() for _ in range(round(sh * n))]
    kinds += [rest] * (n - len(kinds))
    rng.shuffle(kinds)
    return kinds


def make_records(
    seed: int,
    n: int,
    *,
    long_share: float,
    repeat_share: float,
    corrupt_share: float,
    transient_share: float,
    permanent_share: float,
    max_retries: int,
) -> LLMInputs:
    """``n`` JSONL lines with exact shares per seed: long and short texts,
    records repeating another record's prompt under a new id, corrupt
    lines, and prompts the stub fails transiently or permanently (a nonce
    word in the title steers each prompt to its planned fate). Only the
    content changes with the seed, not the amount of work."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary()
    kinds = _plan(rng, n, {"corrupt": corrupt_share, "repeat": repeat_share}, "new")
    n_new = kinds.count("new")
    n_long = round(n_new * long_share)
    lens = _lengths(rng, 150, 500, n_long) + _lengths(rng, 5, 30, n_new - n_long)
    order = rng.permutation(n_new)
    fates_plan = _plan(
        rng, n_new, {"transient": transient_share, "permanent": permanent_share}, "ok"
    )
    new: list[tuple[dict[str, str], str]] = []
    ok = {True: [], False: []}  # long? -> texts of records the stub answers
    for k in order:
        body = _text(rng, vocab, lens[k])
        title = _text(rng, vocab, 3)
        want = fates_plan[len(new)]
        nonce = 0
        while fate(seed, prompt_of(f"{title} {nonce}", body), transient_share, permanent_share) != want:
            nonce += 1
        texts = {"title": f"{title} {nonce}", "body": body}
        new.append((texts, want))
        if want == "ok":
            ok[k < n_long].append(texts)
    n_rep = kinds.count("repeat")
    rep_long = _plan(rng, n_rep, {"long": long_share}, "short")
    lines: list[str] = []
    prompts: dict[str, str] = {}
    fates: dict[str, str] = {}
    for i, kind in enumerate(kinds):
        rid = f"s{seed}-{i:06d}"
        if kind == "corrupt":
            lines.append(f'{{"id": "{rid}", "texts": {{"title": "cut off')
            continue
        if kind == "repeat":
            pool = ok[rep_long.pop() == "long"]
            texts, want = pool[int(rng.integers(0, len(pool)))], "ok"
        else:
            texts, want = new.pop()
        lines.append(json.dumps({"id": rid, "texts": texts}))
        prompts[rid] = prompt_of(texts["title"], texts["body"])
        fates[rid] = want
    n_transient = sum(f == "transient" for f in fates.values())
    n_permanent = sum(f == "permanent" for f in fates.values())
    expected = len(prompts) + n_transient + max_retries * n_permanent
    n_unique = len(set(prompts.values()))
    floor = n_unique + n_transient + max_retries * n_permanent
    return LLMInputs(lines, prompts, fates, kinds.count("corrupt"), expected, floor)


def split_files(inputs: LLMInputs, n_files: int) -> list[list[str]]:
    """Contiguous chunks of the JSONL lines, one per stream input file."""
    return [list(c) for c in np.array_split(np.array(inputs.lines, dtype=object), n_files)]


# -- curation corpus ---------------------------------------------------------


@dataclass
class Corpus:
    doc_ids: np.ndarray  # int64
    texts: list[str]
    exact_pairs: list[tuple[int, int]]  # planted (lo, hi) doc id pairs
    near_pairs: list[tuple[int, int]]


def make_corpus(
    seed: int, n_docs: int, exact_share: float, near_share: float, edit_share: float
) -> Corpus:
    """``n_docs`` documents; exactly ``exact_share`` of them are copies and
    ``near_share`` near copies (``edit_share`` of words replaced) of
    earlier original documents."""
    rng = np.random.default_rng([seed, 2])
    vocab = vocabulary()
    kinds = ["base"] * 10 + _plan(
        rng, n_docs - 10, {"exact": exact_share, "near": near_share}, "base"
    )
    lens = _lengths(rng, 30, 90, kinds.count("base"))
    texts: list[str] = []
    bases: list[int] = []
    exact, near = [], []
    for i, kind in enumerate(kinds):
        if kind == "base":
            texts.append(_text(rng, vocab, lens.pop()))
            bases.append(i)
            continue
        j = bases[int(rng.integers(0, len(bases)))]
        if kind == "exact":
            texts.append(texts[j])
        else:
            words = texts[j].split(" ")
            for p in rng.choice(len(words), max(2, int(len(words) * edit_share)), replace=False):
                w = words[p]
                while w == words[p]:
                    w = vocab[int(rng.integers(0, len(vocab)))]
                words[p] = w
            texts.append(" ".join(words))
        (exact if kind == "exact" else near).append((i, j))
    ids = rng.permutation(n_docs).astype(np.int64) * 7 + 1000

    def pairs(idx):
        return [(int(min(ids[i], ids[j])), int(max(ids[i], ids[j]))) for i, j in idx]

    return Corpus(ids, texts, pairs(exact), pairs(near))


@dataclass
class Vectors:
    ids: np.ndarray  # int64
    emb: np.ndarray  # float32 [n, dim]
    query_ids: np.ndarray  # int64, a subset of ids


def make_vectors(seed: int, n: int, dim: int, near_share: float, n_queries: int) -> Vectors:
    """Gaussian vectors; exactly ``near_share`` of them are small
    perturbations of earlier ones, planting close neighbours."""
    rng = np.random.default_rng([seed, 3])
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    for i in sorted(rng.choice(np.arange(1, n), round(near_share * n), replace=False)):
        j = int(rng.integers(0, i))
        emb[i] = emb[j] + 0.15 * rng.standard_normal(dim).astype(np.float32)
    ids = np.arange(n, dtype=np.int64) * 3 + 10
    q = np.sort(rng.choice(ids, n_queries, replace=False))
    return Vectors(ids, emb, q)


# -- star schema -------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PWORDS = ["blue", "hot", "large", "ring", "bolt", "green", "steel", "nut"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_star(seed: int, scale: float) -> dict:
    """The star schema's tables as pyarrow Tables, with the column names
    and types of the engine's query inventory (TPC-H-like row counts
    times ``scale``, plus events; small documents and embeddings tables
    complete the set of views some queries register)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 4])
    n_c, n_s, n_p = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_o, n_l, n_e = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    def pick(options, n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": pick(_SEGMENTS, n_c),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p), i64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(_PWORDS, n_p), pick(_PWORDS, n_p))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_p)],
        "p_type": pick(_PTYPES, n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), i32),
        "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), i64),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
        "o_orderstatus": pick(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000, 500_000, n_o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_o),
        "o_orderpriority": pick(_PRIORITIES, n_o),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_l),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_l),
        "l_linestatus": pick(["F", "O"], n_l),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_l),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_e))
    events = pa.table({
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(n_e // 60, 10), n_e), i64),
        "event_type": pick(_EVENTS, n_e),
        "value": np.round(rng.exponential(40.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    n_d = max(int(50_000 * scale), 50)
    vocab = vocabulary()
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_d), i64),
        "text": [_text(rng, vocab, int(rng.integers(5, 40))) for _ in range(n_d)],
        "lang": pick(["de", "en", "es", "fr"], n_d),
        "source": pick(["books", "code", "news", "web"], n_d),
    })
    documents = documents.append_column(
        "n_chars", pa.array([len(t) for t in documents["text"].to_pylist()], i64)
    )
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_d), i64),
        "embedding": pa.array(
            list(rng.standard_normal((n_d, 64)).astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_d), i32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": documents, "embeddings": embeddings,
    }
