"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so the same seed always yields the same inputs. Nothing here
touches Spark: the program under test only ever sees the rows or the
parquet files these functions produce.
"""

from __future__ import annotations

import numpy as np

# ----------------------------------------------------------------- text

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "it", "for", "on", "with")
TOPIC_WORDS = (
    "key agg row scan slow fast table value part hash join merge batch "
    "window spark order data column small line customer query big stream "
    "sort group filter index shard page cache vector token corpus score "
    "rank model train eval split sample bucket record field schema commit "
    "segment replica cluster worker driver stage task shuffle spill memory "
    "disk network latency budget quota lease"
).split()
FOREIGN_WORDS = (
    "der die das und nicht mit auf les des une pour dans avec los las por "
    "para sobre entre muy bien cuando donde porque"
).split()


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _english_doc(rng: np.random.Generator, n_tok: int) -> str:
    topic = rng.choice(TOPIC_WORDS, size=n_tok, p=_zipf_weights(len(TOPIC_WORDS), 1.1))
    stop = rng.choice(STOPWORDS, size=n_tok)
    use_stop = rng.random(n_tok) < 0.25
    return " ".join(np.where(use_stop, stop, topic))


def gen_corpus(rng: np.random.Generator, n_docs: int) -> dict[str, list]:
    """A document table (doc_id, text, lang, source, n_chars) with planted
    exact duplicates (case/whitespace variants), near duplicates (one token
    changed), non-English documents and low-quality documents (too short,
    punctuation-heavy or gibberish-long words). doc_ids stay below 100,000
    because the engine's planted_docs derives extra rows at +100000 and
    +200000."""
    if n_docs >= 100_000:
        raise ValueError("doc_ids must stay below 100000")
    texts: list[str] = []
    langs: list[str] = []
    kinds = rng.choice(
        ["en", "exact", "near", "foreign", "short", "punct", "longword"],
        size=n_docs,
        p=[0.70, 0.06, 0.06, 0.08, 0.04, 0.03, 0.03],
    )
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near") and i > 0:
            src = texts[int(rng.integers(0, i))]
            if kind == "exact":
                text = ("  " + src.upper() + " ") if rng.random() < 0.5 else src
            else:
                toks = src.split()
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(TOPIC_WORDS))
                text = " ".join(toks)
            lang = "en"
        elif kind == "foreign":
            text = " ".join(rng.choice(FOREIGN_WORDS, size=int(rng.integers(15, 60))))
            lang = str(rng.choice(["de", "fr", "es"]))
        elif kind == "short":
            text = " ".join(rng.choice(TOPIC_WORDS, size=int(rng.integers(1, 4))))
            lang = "en"
        elif kind == "punct":
            body = _english_doc(rng, int(rng.integers(10, 30))).split()
            text = " ".join(w + "!?;:" for w in body)
            lang = "en"
        elif kind == "longword":
            body = _english_doc(rng, int(rng.integers(10, 30))).split()
            text = " ".join(w * 5 for w in body)
            lang = "en"
        else:
            text = _english_doc(rng, int(rng.integers(20, 90)))
            lang = "en"
        texts.append(text)
        langs.append(lang)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{int(s)}" for s in rng.integers(0, 8, size=n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_corpus(corpus: dict[str, list], path: str) -> None:
    """Write the corpus as a ``documents.parquet`` directory under
    ``path`` (the layout the engine's catalog reads)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(path, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(corpus["doc_id"], pa.int64()),
            "text": pa.array(corpus["text"], pa.string()),
            "lang": pa.array(corpus["lang"], pa.string()),
            "source": pa.array(corpus["source"], pa.string()),
            "n_chars": pa.array(corpus["n_chars"], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "part-0.parquet"))


def gen_term_queries(rng: np.random.Generator, n_queries: int) -> list[tuple[str, ...]]:
    """BM25 query set: 1-3 distinct topic terms per query, drawn with the
    corpus's own term skew so popular and rare terms both occur."""
    w = _zipf_weights(len(TOPIC_WORDS), 1.1)
    out = []
    for _ in range(n_queries):
        n = int(rng.integers(1, 4))
        out.append(tuple(sorted(rng.choice(TOPIC_WORDS, size=n, replace=False, p=w))))
    return out


# ----------------------------------------------------------- embeddings


def gen_embeddings(
    rng: np.random.Generator, n: int, dim: int = 64, n_clusters: int = 8
) -> tuple[np.ndarray, np.ndarray]:
    """Clustered float32 vectors (a Gaussian mixture), so an IVF index has
    real cells to prune. Returns (vectors, cluster labels)."""
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, size=n)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    return vecs.astype(np.float32), labels.astype(np.int32)


class ZipfPicks:
    """An endless sequence of indices into a pool of ``n_items``,
    Zipf-distributed over a seeded permutation: a few items repeat often,
    the tail appears once or never. Reading index ``i`` draws up to ``i``
    on first use, from a generator split off ``rng`` at construction, so
    the sequence depends only on the seed, not on how far a run reads it."""

    CHUNK = 256

    def __init__(self, rng: np.random.Generator, n_items: int, s: float = 1.1):
        self.rng = np.random.default_rng(rng.integers(2**63))
        self.perm = rng.permutation(n_items)
        self.p = _zipf_weights(n_items, s)
        self.picks: list[int] = []

    def __getitem__(self, i: int) -> int:
        while i >= len(self.picks):
            ranks = self.rng.choice(len(self.perm), size=self.CHUNK, p=self.p)
            self.picks.extend(int(self.perm[r]) for r in ranks)
        return self.picks[i]


# ------------------------------------------------------------- contacts

# every delimiter form the reference's phone splitter accepts
PHONE_DELIMS = (",", ";", "/", " , ", "; ", " / ", ",,", " ;/ ")


def _phone(key: int, j: int) -> str:
    return f"08{(key * 7919 + j * 104729) % 100_000_000:08d}"


class ContactStream:
    """Keyset-paginated contact rows (id, hn_code, firstname, tel_no).

    Keys follow a Zipf law over ``n_keys`` keys; each key owns a pool of 14
    phones, so hot keys overflow the 10 slots into ``note_other``. Each
    ``tel_no`` carries 0-4 phones joined with mixed delimiters, and some
    rows repeat a phone. ``preload_keys`` are the keys already present
    before the first page (imported into the sink before the run)."""

    POOL = 14

    def __init__(self, rng: np.random.Generator, n_keys: int, page_rows: int, n_preload: int):
        self.rng = rng
        self.n_keys = n_keys
        self.page_rows = page_rows
        self.perm = rng.permutation(n_keys)
        self.weights = _zipf_weights(n_keys, 0.9)
        self.preload_keys = sorted(int(k) for k in rng.choice(n_keys, size=n_preload, replace=False))
        self.next_id = 1

    @staticmethod
    def hn(key: int) -> str:
        return f"HN{key:07d}"

    def preload_rows(self) -> list[dict]:
        """One legacy sink row per preloaded key, holding 1-3 phones;
        recids 1..n_preload (the watermark the run resumes from)."""
        rows = []
        for k in self.preload_keys:
            n = int(self.rng.integers(1, 4))
            phones = [_phone(k, j) for j in range(n)]
            rows.append(
                {"recid": self.next_id, "hn_code": self.hn(k), "firstname": f"p{k}",
                 "phones": phones}
            )
            self.next_id += 1
        return rows

    def _tel_no(self, key: int) -> str:
        n = int(self.rng.integers(0, 5))
        if n == 0:
            return str(self.rng.choice(["", " ", ",", ""]))
        picks = [_phone(key, int(j)) for j in self.rng.integers(0, self.POOL, size=n)]
        if n > 1 and self.rng.random() < 0.2:
            picks[-1] = picks[0]  # a phone repeated within the row
        out = picks[0]
        for p in picks[1:]:
            out += str(self.rng.choice(PHONE_DELIMS)) + p
        return (" " + out) if self.rng.random() < 0.1 else out

    def next_page(self) -> list[dict]:
        ranks = self.rng.choice(self.n_keys, size=self.page_rows, p=self.weights)
        rows = []
        for r in ranks:
            key = int(self.perm[r])
            rows.append(
                {"id": self.next_id, "hn_code": self.hn(key),
                 "firstname": f"f{key}_{self.next_id % 97}", "tel_no": self._tel_no(key)}
            )
            self.next_id += 1
        return rows
