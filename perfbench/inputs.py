"""Seeded input generators for the benchmark.

Everything the engine sees is made here from one integer seed: transcript
rows (the canonical ``conv_id, turn_idx, role, text, tool, ts`` table),
the watched directory's update files, the bulk catch-up batch and the query
strings.  Only numpy and pyarrow are used, so the same seed gives
byte-identical inputs with or without a Spark session.

The text follows the shape of ``sources.transcripts.synthetic_transcripts``:
10-129 Zipf-skewed words per turn over a 10,000-word vocabulary
(``w0`` is the most frequent), and about one turn in 17 carries an
identifier tail (``pol-NNN src/main.rs``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 10_000
TURNS_PER_CONV = 16
ROLES = ("user", "assistant", "tool")
TS_BASE = 1_700_000_000

#: parquet/Spark schema of every transcript table the benchmark writes
SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
SPARK_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

QUERY_CLASSES = (
    "single_term",
    "rare_term",
    "multi_term_or",
    "boolean_and",
    "boolean_not",
    "phrase",
    "identifier_phrase",
    "hydrated",
)

_VOCAB = np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)


def _streams(seed: int, n: int) -> list[np.random.Generator]:
    """Independent generators per input kind, so resizing one input never
    shifts another."""
    return [np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(n)]


def zipf_words(rng: np.random.Generator, n: int) -> np.ndarray:
    u = rng.random(n)
    return np.floor(u**3 * VOCAB_SIZE).astype(np.int64)


def make_texts(rng: np.random.Generator, n: int) -> list[str]:
    n_words = rng.integers(10, 130, n)
    words = _VOCAB[zipf_words(rng, int(n_words.sum()))]
    ends = np.cumsum(n_words)
    ident = rng.integers(0, 17, n) == 0
    ident_no = rng.integers(0, 1000, n)
    texts = []
    start = 0
    for i, end in enumerate(ends.tolist()):
        t = " ".join(words[start:end])
        if ident[i]:
            t += f" pol-{ident_no[i]} src/main.rs"
        texts.append(t)
        start = end
    return texts


def turn_keys(row_ids: np.ndarray) -> tuple[list[str], np.ndarray]:
    conv = [f"conv-{c:08d}" for c in (row_ids // TURNS_PER_CONV).tolist()]
    return conv, (row_ids % TURNS_PER_CONV).astype(np.int32)


def transcript_table(row_ids: np.ndarray, texts: list[str], ts_offset=0) -> pa.Table:
    """Rows for the given global turn ids; role and tool are functions of
    the id (as in ``synthetic_transcripts``), ``ts`` is the id's base time
    plus ``ts_offset`` seconds (a scalar or one per row), the text is
    supplied."""
    conv, turn = turn_keys(row_ids)
    role_ix = turn % len(ROLES)
    roles = [ROLES[r] for r in role_ix.tolist()]
    tools = [
        f"tool_{int(i) % 8}" if r == "tool" else None
        for i, r in zip(row_ids.tolist(), roles)
    ]
    ts = (TS_BASE + np.asarray(ts_offset, np.int64) + row_ids * 7) * 1_000_000
    return pa.table(
        [
            pa.array(conv, pa.string()),
            pa.array(turn, pa.int32()),
            pa.array(roles, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(tools, pa.string()),
            pa.array(ts, pa.timestamp("us", tz="UTC")),
        ],
        schema=SCHEMA,
    )


def table_docs(table: pa.Table) -> dict[str, dict]:
    """doc_id -> oracle document (``doc_id, content, conv_id, turn_idx``,
    plus the row's ``ts`` in microseconds)."""
    out = {}
    for c, t, x, ts in zip(
        table["conv_id"].to_pylist(),
        table["turn_idx"].to_pylist(),
        table["text"].to_pylist(),
        table["ts"].cast(pa.int64()).to_pylist(),
    ):
        out[f"{c}:{t}"] = {"doc_id": f"{c}:{t}", "content": x, "conv_id": c, "turn_idx": t, "ts": ts}
    return out


# ── queries ─────────────────────────────────────────────────────────────────


@dataclass(frozen=True)
class Query:
    cls: str
    text: str

    @property
    def hydrate(self) -> tuple[str, ...]:
        return ("content",) if self.cls == "hydrated" else ()


def make_queries(
    rng: np.random.Generator,
    texts: list[str],
    n: int,
    classes: tuple[str, ...] = QUERY_CLASSES,
    repeat: bool = True,
) -> list[Query]:
    """``n`` queries in rounds of one query per class (class order shuffled
    per round, so every run sees the same class mix).  With ``repeat``,
    every round after the first repeats one earlier query, of the class
    the round number rotates to, exercising the engine's result cache next
    to its miss path; a fixed schedule rather than a random draw keeps the
    number and classes of cache hits the same under every seed.

    Terms are drawn from bands of the corpus's document-frequency ranking,
    so a class costs about the same under every seed: common terms for
    ``single_term``/``hydrated``, the tail for ``rare_term``, head terms
    for ``boolean_and`` (so the intersection is rarely empty)."""
    df: dict[str, int] = {}
    for t in texts:
        for w in set(t.split(" ")):
            if w[0] == "w":
                df[w] = df.get(w, 0) + 1
    ranked = sorted(df, key=lambda w: (-df[w], w))

    def band(lo: int, hi: int) -> str:
        hi = min(hi, len(ranked))
        return ranked[int(rng.integers(min(lo, hi - 1), hi))]

    def fresh(cls: str) -> str:
        if cls in ("single_term", "hydrated"):
            return band(10, 300)
        if cls == "rare_term":
            return band(len(ranked) // 2, len(ranked))
        if cls == "multi_term_or":
            return " ".join(band(10, 1000) for _ in range(4))
        if cls == "boolean_and":
            return f"{band(0, 100)} AND {band(0, 100)}"
        if cls == "boolean_not":
            return f"{band(10, 300)} -{band(0, 100)}"
        if cls == "phrase":
            words = texts[int(rng.integers(len(texts)))].split(" ")
            i = int(rng.integers(0, min(len(words), 10) - 1))
            return f'"{words[i]} {words[i + 1]}"'
        if cls == "identifier_phrase":
            return f"pol-{int(rng.integers(0, 1000))}"
        raise ValueError(cls)

    out: list[Query] = []
    seen: dict[str, list[str]] = {c: [] for c in classes}
    while len(out) < n:
        rnd = len(out) // len(classes)
        again = classes[(rnd - 1) % len(classes)] if repeat and rnd else None
        for ci in rng.permutation(len(classes)).tolist():
            cls = classes[ci]
            if cls == again:
                text = seen[cls][int(rng.integers(len(seen[cls])))]
            else:
                text = fresh(cls)
                seen[cls].append(text)
            out.append(Query(cls, text))
    return out[:n]


# ── workload inputs ─────────────────────────────────────────────────────────


class IndexState:
    """The document versions an index holds after a sequence of upserts.

    An upsert tombstones the replaced version but leaves it in its segment
    until a merge, and BM25 statistics (doc count, average length, doc
    frequency) are taken over every version in the live segments.  So the
    oracle is built over all versions, each superseded one under a
    ``doc_id#N`` name, and only live doc_ids are expected in answers.
    Rows equal to the live version are skipped (the upsert's content-hash
    check), as the engine does."""

    def __init__(self, base: pa.Table) -> None:
        self.live = table_docs(base)
        self.dead: list[dict] = []

    def upsert(self, table: pa.Table) -> None:
        for doc_id, doc in table_docs(table).items():
            old = self.live.get(doc_id)
            if old is not None:
                if old["content"] == doc["content"]:
                    continue
                self.dead.append({**old, "doc_id": f"{doc_id}#{len(self.dead)}"})
            self.live[doc_id] = doc

    def versions(self) -> list[dict]:
        return list(self.live.values()) + self.dead


@dataclass
class SearchInputs:
    base: pa.Table
    queries: list[Query]
    #: rounds of one query per class, run before the clock starts; none
    #: shares its text with a timed query, so no timed query finds its
    #: answer cached by the warm-up
    warm: list[Query]


@dataclass
class WatchInputs:
    base: pa.Table
    #: one distributed upsert applied before the stream starts
    catchup: pa.Table
    #: update files in arrival order; the first ``warm_files`` are written
    #: before the clock starts
    files: list[pa.Table]
    warm_files: int
    reader_queries: list[Query]
    probes: list[Query]
    #: every document version the index holds after the last file
    final: IndexState


@dataclass
class BulkInputs:
    base: pa.Table
    catchup: pa.Table
    probes: list[Query]
    final: IndexState


PROBE_CLASSES = ("single_term", "multi_term_or", "boolean_and", "boolean_not", "phrase")


def search_inputs(seed: int, n_turns: int, n_queries: int, n_warm: int = len(QUERY_CLASSES)) -> SearchInputs:
    r_text, r_query, r_warm = _streams(seed, 3)
    texts = make_texts(r_text, n_turns)
    base = transcript_table(np.arange(n_turns), texts)
    queries = make_queries(r_query, texts, n_queries)
    timed = {q.text for q in queries}
    warm: list[Query] = []
    while len(warm) < n_warm:
        warm += [q for q in make_queries(r_warm, texts, n_warm, repeat=False) if q.text not in timed]
    return SearchInputs(base, queries, warm[:n_warm])


def _catchup(rng: np.random.Generator, n_turns: int, n: int) -> pa.Table:
    """~70% replacements of base turns, ~30% new turns."""
    n_repl = n * 7 // 10
    repl = np.sort(rng.choice(n_turns, n_repl, replace=False))
    ids = np.concatenate([repl, np.arange(n_turns, n_turns + n - n_repl)])
    return transcript_table(ids, make_texts(rng, n), ts_offset=3600)


def watch_inputs(
    seed: int,
    n_turns: int,
    n_catchup: int,
    n_files: int,
    rows_per_file: int,
    warm_files: int,
    n_reader_queries: int,
    reader_classes: tuple[str, ...],
) -> WatchInputs:
    """A base, one catch-up batch, then update files mixing ~70%
    replacements of live turns, ~20% new turns and ~10% unchanged re-saves
    (rows equal to the live version, which the content-hash check skips)."""
    r_text, r_files, r_query, r_catch = _streams(seed, 4)
    texts = make_texts(r_text, n_turns)
    base = transcript_table(np.arange(n_turns), texts)
    catchup = _catchup(r_catch, n_turns, n_catchup)
    state = IndexState(base)
    state.upsert(catchup)
    next_id = n_turns + n_catchup - n_catchup * 7 // 10
    live_ids = np.arange(next_id)
    n_new = rows_per_file // 5
    n_same = rows_per_file // 10
    n_repl = rows_per_file - n_new - n_same
    files = []
    for k in range(n_files):
        picked = r_files.choice(live_ids, n_repl + n_same, replace=False)
        repl, same = picked[:n_repl], picked[n_repl:]
        new = np.arange(next_id, next_id + n_new)
        next_id += n_new
        ids = np.concatenate([repl, new, same])
        conv, turn = turn_keys(same)
        same_rows = [state.live[f"{c}:{t}"] for c, t in zip(conv, turn.tolist())]
        # replaced and new rows are stamped an hour per file later;
        # re-saves keep the live row's ts
        ts_off = np.concatenate([
            np.full(n_repl + n_new, 3600 * (k + 2)),
            [d["ts"] // 1_000_000 - TS_BASE - i * 7 for d, i in zip(same_rows, same.tolist())],
        ])
        tbl = transcript_table(
            ids, make_texts(r_files, n_repl + n_new) + [d["content"] for d in same_rows], ts_off
        )
        files.append(tbl)
        state.upsert(tbl)
        live_ids = np.concatenate([live_ids, new])
    return WatchInputs(
        base=base,
        catchup=catchup,
        files=files,
        warm_files=warm_files,
        # the reader reopens before every query, which empties the result
        # cache, so a repeat would not hit it
        reader_queries=make_queries(r_query, texts, n_reader_queries, reader_classes, False),
        probes=make_queries(r_query, texts, len(PROBE_CLASSES), PROBE_CLASSES, False),
        final=state,
    )


def bulk_inputs(seed: int, n_turns: int, n_catchup: int) -> BulkInputs:
    """A base load plus one catch-up batch."""
    r_text, r_catch, r_query = _streams(seed, 3)
    texts = make_texts(r_text, n_turns)
    base = transcript_table(np.arange(n_turns), texts)
    catchup = _catchup(r_catch, n_turns, n_catchup)
    final = IndexState(base)
    final.upsert(catchup)
    return BulkInputs(
        base=base,
        catchup=catchup,
        probes=make_queries(r_query, texts, len(PROBE_CLASSES), PROBE_CLASSES, False),
        final=final,
    )
