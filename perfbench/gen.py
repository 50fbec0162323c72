"""Seeded input generators for the three benchmark workloads.

Everything here is pure numpy/pyarrow: the same seed gives the same
files, and the engine only ever sees the parquet this module writes
(fixture schemas, see FIXTURES.md).  Each generator also keeps the
ground truth the correctness checks need.

The vocabulary, language lexicon and stopwords are fixed HERE rather
than imported from the engine, so a change to the engine's constants
cannot silently change the benchmark's inputs between two commits.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ("the", "a", "of", "and", "to", "in")
# Five languages, each with a marker lexicon (the fixture vocabulary the
# engine's marker-based language ID recognises).
LANG_MARKERS = {
    "en": ("the", "a", "fast", "small"),
    "es": ("data", "vector", "agg", "column"),
    "de": ("stream", "batch", "merge", "sort"),
    "fr": ("table", "row", "join", "query"),
    "zh": ("spark", "hash", "key", "scan"),
}
LANGS = tuple(sorted(LANG_MARKERS))
VOCAB_SIZE = 6000
ZIPF_S = 1.1
EMB_DIM = 64
N_ANCHORS = 16  # lowest vec_ids the similarity stages take as anchors
DECONTAM_NGRAM = 8
EVAL_MOD = 17  # doc_id % 17 == 0 is the eval split the decon stage guards
# Shares of a corpus planted as exact copies, near-dup variants, and
# training docs carrying an 8-gram of an eval doc.
COPY_SHARE, NEARDUP_SHARE, CONTAM_SHARE = 0.02, 0.05, 0.015

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def vocabulary() -> list[str]:
    """Zipf-ranked vocabulary: stopwords take the top ranks, then the
    language markers, then synthetic lowercase words.  Seed-independent."""
    words: list[str] = list(STOPWORDS)
    for lang in LANGS:
        words += [w for w in LANG_MARKERS[lang] if w not in words]
    rng = rng_for(0, 99)
    seen = set(words)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_SYLLABLES, size=int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def token_jaccard(a: str, b: str) -> float:
    """Token-set Jaccard over whitespace tokens (the verify rule)."""
    sa, sb = set(a.split()), set(b.split())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def write_parquet(path: Path, table: pa.Table) -> int:
    """Write one parquet file and return its size in bytes."""
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path.stat().st_size


# ---------------------------------------------------------------------------
# ingest: day-by-day event arrivals with late rows
# ---------------------------------------------------------------------------

EPOCH = dt.datetime(2024, 1, 1)
# Share of a day's rows that arrive one / two files late.  Two days is
# the deepest lateness, so the 3-day trailing window commits every row.
LATE_1, LATE_2 = 0.10, 0.05


@dataclass
class IngestGen:
    """Day ``d`` (1-based) has ``rows_per_day`` events; each row lands in
    arrival file ``d + delay`` with delay 0, 1 or 2."""

    seed: int
    rows_per_day: int
    _days: dict = field(default_factory=dict)

    def day_rows(self, day: int) -> dict[str, np.ndarray]:
        if day in self._days:
            return self._days[day]
        n, rng = self.rows_per_day, rng_for(self.seed, 1, day)
        # Bijective scramble of (day, i) so keys do not cluster by day.
        raw = np.arange((day - 1) * n, day * n, dtype=np.int64)
        event_id = (raw * 0x9E3779B1 + 12345) % (1 << 40)
        secs = np.sort(rng.uniform(0, 86400, size=n))
        ts = (
            np.datetime64(EPOCH + dt.timedelta(days=day - 1), "us")
            + (secs * 1e6).astype("timedelta64[us]")
        )
        users = np.minimum(rng.zipf(1.3, size=n), 50_000).astype(np.int64)
        delay = rng.choice(3, size=n, p=[1 - LATE_1 - LATE_2, LATE_1, LATE_2])
        rows = {
            "event_id": event_id,
            "ts": ts,
            "user_id": users,
            "event_type": rng.choice(np.array(EVENT_TYPES), size=n),
            "value": np.round(rng.gamma(2.0, 30.0, size=n), 2),
            "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
            "delay": delay,
        }
        self._days[day] = rows
        if len(self._days) > 4:  # arrival(k) needs days k-2..k only
            del self._days[min(self._days)]
        return rows

    def arrival(self, k: int) -> pa.Table:
        """Rows landing in arrival file ``k``: day k on time plus the
        late rows of days k-1 and k-2."""
        parts = []
        for delay in (2, 1, 0):
            day = k - delay
            if day < 1:
                continue
            rows = self.day_rows(day)
            m = rows["delay"] == delay
            parts.append(
                pa.table(
                    {c: rows[c][m] for c in EVENTS_SCHEMA.names},
                    schema=EVENTS_SCHEMA,
                )
            )
        return pa.concat_tables(parts)

    @staticmethod
    def day_str(day: int) -> str:
        return (EPOCH + dt.timedelta(days=day - 1)).strftime("%Y-%m-%d")


def day_numbers(events: pa.Table) -> np.ndarray:
    """The 1-based day of each event row."""
    since = events.column("ts").to_numpy() - np.datetime64(EPOCH, "us")
    return since // np.timedelta64(1, "D") + 1


# ---------------------------------------------------------------------------
# prep / serve: documents + embeddings corpus with planted duplicates
# ---------------------------------------------------------------------------


@dataclass
class Corpus:
    texts: list[str]
    langs: list[str]
    sources: list[str]
    vectors: np.ndarray  # (n, EMB_DIM) float32
    labels: np.ndarray
    planted_pairs: list[tuple[int, int, float]]  # (id_a < id_b, true Jaccard)
    contaminated: list[int]

    def docs_table(self, ids=None) -> pa.Table:
        ids = range(len(self.texts)) if ids is None else ids
        ids = list(ids)
        return pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": [self.texts[i] for i in ids],
                "lang": [self.langs[i] for i in ids],
                "source": [self.sources[i] for i in ids],
                "n_chars": pa.array([len(self.texts[i]) for i in ids], pa.int64()),
            },
            schema=DOCS_SCHEMA,
        )

    def emb_table(self, ids=None) -> pa.Table:
        ids = range(len(self.texts)) if ids is None else ids
        ids = list(ids)
        return pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": [self.vectors[i].tolist() for i in ids],
                "label": pa.array([int(self.labels[i]) for i in ids], pa.int32()),
            },
            schema=EMB_SCHEMA,
        )


def _edit(tokens: list[str], rate: float, rng, vocab, probs) -> list[str]:
    """Token-level edit: substitute, delete or insert at ``rate``."""
    out = []
    for t in tokens:
        r = rng.random()
        if r < rate:
            out.append(vocab[rng.choice(len(vocab), p=probs)])
        elif r < 1.5 * rate:
            continue
        else:
            out.append(t)
            if r > 1 - 0.5 * rate:
                out.append(vocab[rng.choice(len(vocab), p=probs)])
    return out or tokens[:1]


def make_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents over a Zipfian vocabulary with lognormal
    (long-tail) lengths and five languages, plus planted exact copies,
    near-dup clusters (token edits of a source document, with vectors a
    small perturbation of the source's) and 8-gram contamination of the
    ``doc_id % 17 == 0`` eval split."""
    rng = rng_for(seed, 2)
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    n_topics = 32
    topics = rng.normal(0.0, 1.0, size=(n_topics, EMB_DIM))

    lengths = np.clip(rng.lognormal(np.log(60), 0.9, size=n_docs), 3, 1200).astype(int)
    n_copy = int(n_docs * COPY_SHARE)
    n_near = int(n_docs * NEARDUP_SHARE)
    n_base = n_docs - n_copy - n_near

    toks: list[list[str]] = []
    langs: list[str] = []
    vecs = np.empty((n_docs, EMB_DIM))
    labels = np.empty(n_docs, dtype=np.int32)
    origin: list[int] = []  # generation index of the source doc (-1: base)
    topic_of: list[int] = []  # topic of each base doc
    for i in range(n_base):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        words = [vocab[j] for j in rng.choice(len(vocab), size=lengths[i], p=probs)]
        markers = LANG_MARKERS[lang]
        for pos in np.flatnonzero(rng.random(len(words)) < 0.08):
            words[pos] = markers[int(rng.integers(len(markers)))]
        # sentence ends: a trailing period on ~5% of tokens
        for pos in np.flatnonzero(rng.random(len(words)) < 0.05):
            words[pos] = words[pos] + "."
        topic = int(rng.integers(n_topics))
        topic_of.append(topic)
        toks.append(words)
        langs.append(lang)
        vecs[i] = 0.6 * topics[topic] + rng.normal(0.0, 1.0, EMB_DIM)
        labels[i] = topic % 10
        origin.append(-1)
    for j in range(n_copy + n_near):
        i = n_base + j
        if j < n_copy:
            src = int(rng.integers(n_base))
            words = list(toks[src])
            vecs[i] = vecs[src]
        else:
            # near-dup clusters: a source plus edited variants; half the
            # time a variant joins the previous variant's cluster
            prev = origin[i - 1]
            joins = j > n_copy and prev >= 0 and rng.random() < 0.5
            src = prev if joins else int(rng.integers(n_base))
            words = _edit(toks[src], float(rng.uniform(0.01, 0.06)), rng, vocab, probs)
            vecs[i] = vecs[src] + rng.normal(0.0, 0.05, EMB_DIM)
        toks.append(words)
        langs.append(langs[src])
        labels[i] = labels[src]
        origin.append(src)

    # Final doc ids (generation index -> doc_id) are a permutation so
    # planted docs are not adjacent, except that ids 0..N_ANCHORS-1 go to
    # base docs of distinct topics: the similarity stages take the lowest
    # ids as cluster anchors, and distinct topics keep cluster sizes (and
    # their pairwise work) alike from seed to seed.
    first_of_topic: dict[int, int] = {}
    for g, t in enumerate(topic_of):
        first_of_topic.setdefault(t, g)
    lead = [first_of_topic[t] for t in sorted(first_of_topic)][:N_ANCHORS]
    rest = np.setdiff1d(np.arange(n_docs), lead)
    perm = np.empty(n_docs, dtype=np.int64)
    perm[lead] = np.arange(len(lead))
    perm[rest] = len(lead) + rng.permutation(len(rest))
    texts = [""] * n_docs
    out_langs = [""] * n_docs
    out_vecs = np.empty_like(vecs)
    out_labels = np.empty_like(labels)
    for g, d in enumerate(perm):
        texts[d] = " ".join(toks[g])
        out_langs[d] = langs[g]
        out_vecs[d] = vecs[g]
        out_labels[d] = labels[g]

    # Contaminate: copy an 8-gram of an eval doc into some training docs.
    evals = [d for d in range(0, n_docs, EVAL_MOD) if len(texts[d].split()) >= DECONTAM_NGRAM]
    train = [d for d in range(n_docs) if d % EVAL_MOD]
    contaminated = sorted(
        int(d) for d in rng.choice(train, size=int(n_docs * CONTAM_SHARE), replace=False)
    )
    for d in contaminated:
        ev = texts[evals[int(rng.integers(len(evals)))]].split()
        at = int(rng.integers(len(ev) - DECONTAM_NGRAM + 1))
        words = texts[d].split()
        pos = int(rng.integers(len(words) + 1))
        texts[d] = " ".join(words[:pos] + ev[at : at + DECONTAM_NGRAM] + words[pos:])

    # Planted pairs: every pair inside a copy / near-dup cluster, with the
    # true Jaccard of the FINAL texts.
    root = list(range(n_docs))
    for g in range(n_docs):
        r = g
        while origin[r] >= 0:
            r = origin[r]
        root[g] = r
    clusters: dict[int, list[int]] = {}
    for g in range(n_docs):
        clusters.setdefault(root[g], []).append(int(perm[g]))
    pairs = []
    for members in clusters.values():
        members.sort()
        for a_i, a in enumerate(members):
            for b in members[a_i + 1 :]:
                pairs.append((a, b, token_jaccard(texts[a], texts[b])))

    scale = 0.15 / out_vecs.std()
    return Corpus(
        texts=texts,
        langs=out_langs,
        sources=[f"src{d % 5}" for d in range(n_docs)],
        vectors=(out_vecs * scale).astype(np.float32),
        labels=out_labels,
        planted_pairs=sorted(pairs),
        contaminated=contaminated,
    )


# ---------------------------------------------------------------------------
# serve: seeded read / mutation op stream over a BM25 + IVF index pair
# ---------------------------------------------------------------------------

MUTATION_EVERY = 5  # one op in 5 mutates (the first of each 5): an 80/20 mix
MUTATION_KINDS = (
    "bm25_append",
    "ivf_append",
    "bm25_upsert",
    "ivf_delete",
    "bm25_delete",
    "ivf_upsert",
)
COMPACT_EVERY = 10  # compact an index after every 10th mutation of it
APPEND_N, DELETE_N, UPSERT_N = 20, 10, 10


@dataclass
class ServeState:
    """The live document set of the BM25 index and the live vector set
    of the IVF index, replayed by the op stream (the ground truth)."""

    docs: dict[int, str]
    vecs: dict[int, np.ndarray]


def serve_ops(seed: int, corpus: Corpus, n_base: int):
    """Yield ``(op, state)`` forever: reads of 1-4 Zipf-drawn terms (k=10)
    and, as the first of every 5 ops, one mutation rotating over the six
    kinds, with a compaction after every 10th mutation of an index.  A
    mutation leads each cycle so that even a short run has one.  ``state`` is the
    live set AFTER the op.  Documents past ``n_base`` are the append
    reserve; edits re-draw a document's tokens."""
    rng = rng_for(seed, 3)
    vocab = vocabulary()
    probs = zipf_probs(len(vocab))
    state = ServeState(
        docs={i: corpus.texts[i] for i in range(n_base)},
        vecs={i: corpus.vectors[i] for i in range(n_base)},
    )
    reserve_doc = reserve_vec = n_base
    n_mut = {"bm25": 0, "ivf": 0}
    i = 0
    while True:
        i += 1
        if i % MUTATION_EVERY != 1:
            n_terms = int(rng.integers(1, 5))
            terms: list[str] = []
            while len(terms) < n_terms:
                t = vocab[int(rng.choice(len(vocab), p=probs))]
                if t not in terms:
                    terms.append(t)
            yield {"kind": "read", "terms": tuple(terms)}, state
            continue
        kind = MUTATION_KINDS[(i // MUTATION_EVERY) % len(MUTATION_KINDS)]
        index, verb = kind.split("_")
        live = state.docs if index == "bm25" else state.vecs
        op: dict = {"kind": kind, "batch_id": f"m{i:05d}"}
        if verb == "append":
            start = reserve_doc if index == "bm25" else reserve_vec
            ids = list(range(start, min(start + APPEND_N, len(corpus.texts))))
            if index == "bm25":
                reserve_doc += len(ids)
                op["new"] = {d: corpus.texts[d] for d in ids}
            else:
                reserve_vec += len(ids)
                op["new"] = {d: corpus.vectors[d] for d in ids}
        else:
            n = DELETE_N if verb == "delete" else UPSERT_N
            ids = sorted(int(d) for d in rng.choice(sorted(live), size=n, replace=False))
            op["old"] = {d: live[d] for d in ids}
            if verb == "upsert":
                if index == "bm25":
                    op["new"] = {
                        d: " ".join(_edit(live[d].split(), 0.3, rng, vocab, probs))
                        for d in ids
                    }
                else:
                    op["new"] = {
                        d: (live[d] + rng.normal(0.0, 0.05, EMB_DIM)).astype(np.float32)
                        for d in ids
                    }
        for d in op.get("old", {}):
            del live[d]
        live.update(op.get("new", {}))
        yield op, state
        n_mut[index] += 1
        if n_mut[index] % COMPACT_EVERY == 0:
            yield {"kind": f"{index}_compact"}, state
