"""Independent references the benchmark checks the program's outputs
against. None of them calls into the engine's own implementations."""

from __future__ import annotations

import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal, localcontext

import numpy as np

N_SLOTS = 10

# ------------------------------------------------------ contact slot fold

_DELIMS = re.compile(r"[,;/]+")


def phones_of(tel_no: str | None) -> list[str]:
    """Reference tokenizer: drop every space, split on runs of , ; /,
    drop empty tokens."""
    if tel_no is None:
        return []
    return [p for p in _DELIMS.split(tel_no.replace(" ", "")) if p]


def fold_row(slots: list, extras: list, phones: list[str]) -> tuple[list, list]:
    """One ordered slot-fold step: new phones (deduplicated against the
    slots and within the row) fill empty slots left to right; the rest
    join the extras; an extra that now sits in a slot leaves the extras."""
    slots = list(slots)
    taken = {s for s in slots if s is not None}
    fresh: list[str] = []
    for p in phones:
        if p not in taken and p not in fresh:
            fresh.append(p)
    i = 0
    for pos in range(N_SLOTS):
        if i == len(fresh):
            break
        if slots[pos] is None:
            slots[pos] = fresh[i]
            i += 1
    in_slots = {s for s in slots if s is not None}
    new_extras: list[str] = []
    for p in list(extras) + fresh[i:]:
        if p not in in_slots and p not in new_extras:
            new_extras.append(p)
    return slots, new_extras


class ContactModel:
    """The expected sink and state of the contact pipeline, folded row by
    row in Python."""

    def __init__(self):
        self.rows: dict[str, dict] = {}  # hn_code -> expected sink row
        self.state: dict[str, tuple[list, list]] = {}

    def preload(self, rows: list[dict]) -> None:
        for r in rows:
            slots = (list(r["phones"]) + [None] * N_SLOTS)[:N_SLOTS]
            self.state[r["hn_code"]] = (slots, [])
            self.rows[r["hn_code"]] = self._sink_row(r["recid"], r["hn_code"], r["firstname"], slots, [])

    @staticmethod
    def _sink_row(recid, hn, firstname, slots, extras) -> dict:
        row = {"recid": recid, "hn_code": hn, "firstname": firstname}
        names = ["tel_no"] + [f"tel_no{i}" for i in range(2, N_SLOTS + 1)]
        row.update(zip(names, slots))
        row["note_other"] = ",".join(extras) if extras else None
        row["rectype"] = "BIGDATA"
        return row

    def apply_page(self, page: list[dict]) -> tuple[int, int]:
        """Fold one page; returns the expected (insert, update) counters:
        a key unknown before the page counts one insert, every other row
        an update."""
        inserts = 0
        seen_new: set[str] = set()
        for r in sorted(page, key=lambda x: x["id"]):
            hn = r["hn_code"]
            if hn not in self.state and hn not in seen_new:
                inserts += 1
                seen_new.add(hn)
            slots, extras = self.state.get(hn, ([None] * N_SLOTS, []))
            slots, extras = fold_row(slots, extras, phones_of(r["tel_no"]))
            self.state[hn] = (slots, extras)
            self.rows[hn] = self._sink_row(r["id"], hn, r["firstname"], slots, extras)
        # keys first seen in this page join the state only after it
        return inserts, len(page) - inserts

    def sink_mismatches(self, sink_rows: list[dict]) -> int:
        got = {r["hn_code"]: r for r in sink_rows}
        bad = abs(len(got) - len(self.rows))
        for hn, want in self.rows.items():
            have = got.get(hn)
            if have is None or any(have.get(k) != v for k, v in want.items()):
                bad += 1
        return bad

    def state_mismatches(self, state_rows: list[dict]) -> int:
        got = {r["hn_code"]: r for r in state_rows}
        bad = abs(len(got) - len(self.state))
        for hn, (slots, extras) in self.state.items():
            have = got.get(hn)
            if have is None or list(have["slots"]) != [s for s in slots if s is not None] or list(
                have["extras"]
            ) != list(extras):
                bad += 1
        return bad


# ------------------------------------------------------ result hashing


def rows_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted by their repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    recs = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return hashlib.md5("\n".join(recs).encode()).hexdigest()


def duckdb_hash(sql: str, data_dir: str) -> tuple[str, int]:
    """Run oracle SQL in DuckDB over the generated ``documents`` table."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute(
            f"create view documents as select * from read_parquet('{data_dir}/documents.parquet/*.parquet')"
        )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    return rows_hash(cols, rows), len(rows)


# ------------------------------------------------------------- BM25

_WS = re.compile(r"[ \t\r\n\f]+")
_Q9 = Decimal("1e-9")


def tokens(text: str) -> list[str]:
    """lower(trim(text)) split on the whitespace class, empties dropped
    (the tokenization the index is specified to use)."""
    return [t for t in _WS.split(text.strip(" ").lower()) if t]


def _dec9(x: float) -> Decimal:
    return Decimal(repr(x)).quantize(_Q9, rounding=ROUND_HALF_UP)


class Bm25Reference:
    """Okapi BM25 (k1=1.2, b=0.75, Lucene idf) over a live document set,
    with the specified quantization: idf and each per-(doc, term)
    contribution rounded half-up to 9 decimals, the per-doc sum exact."""

    def __init__(self, docs: dict[int, str]):
        self.docs: dict[int, list[str]] = {}
        self.n_toks = 0
        for d, t in docs.items():
            self.add(d, t)

    def add(self, doc_id: int, text: str) -> None:
        toks = tokens(text)
        self.docs[doc_id] = toks
        self.n_toks += len(toks)

    def remove(self, doc_id: int) -> None:
        self.n_toks -= len(self.docs.pop(doc_id))

    def topk(self, terms: tuple[str, ...], k: int, k1: float = 1.2, b: float = 0.75) -> list[tuple]:
        nd, nt = len(self.docs), self.n_toks
        tf: dict[str, dict[int, int]] = {t: {} for t in set(terms)}
        for d, toks in self.docs.items():
            for t in toks:
                if t in tf:
                    tf[t][d] = tf[t].get(d, 0) + 1
        scores: dict[int, Decimal] = {}
        nterms: dict[int, int] = {}
        ratio = float(nd) / float(nt)
        for t, postings in tf.items():
            df = len(postings)
            if not df:
                continue
            idf = float(_dec9(math.log(1.0 + (float(nd - df) + 0.5) / (float(df) + 0.5))))
            for d, f in postings.items():
                dl = len(self.docs[d])
                s = idf * (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl * ratio))
                scores[d] = scores.get(d, Decimal(0)) + _dec9(s)
                nterms[d] = nterms.get(d, 0) + 1
        with localcontext() as ctx:
            ctx.prec = 40
            ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            return [(d, nterms[d], float(s)) for d, s in ranked]


# -------------------------------------------------------- exact top-k


def cosine(vectors: np.ndarray, query: np.ndarray) -> np.ndarray:
    """Cosine similarity of each row with the query, in float64."""
    c = vectors.astype(np.float64)
    q = query.astype(np.float64)
    return (c @ q) / (np.linalg.norm(c, axis=1) * np.linalg.norm(q))


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, query: np.ndarray, k: int) -> list[int]:
    """Exact cosine top-k ids."""
    idx = np.argsort(-cosine(corpus, query), kind="stable")[:k]
    return [int(corpus_ids[i]) for i in idx]
