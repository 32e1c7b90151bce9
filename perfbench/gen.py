"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same rows. :class:`EventsRef` holds the reference answers the
correctness checks compare against. Inputs
are written under the benchmark's work directory and cached by
(workload, seed, size), so generation never lands inside a timed region
or inside ``setup_s``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z in epoch microseconds; every generated ts is an
# offset from it, so checksums over offsets fit comfortably in int64
T0_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
N_USERS = 20_000

EN_STOP = ["the", "and", "of", "a", "is"]
OTHER_STOP = {
    "de": ["der", "und", "das", "ist", "ein"],
    "fr": ["le", "et", "la", "est", "un"],
    "es": ["el", "y", "la", "es", "un"],
}
N_SOURCES = 20


def _ts_offsets(rng: np.random.Generator, n: int, start_us: int = 0) -> np.ndarray:
    """Strictly increasing µs offsets with a ~10 ms jittered mean gap.
    Every gap is at least 2 µs, so ``ts + 1`` is never a stored key —
    the absent-key probes rely on it."""
    gaps = 2 + rng.exponential(10_000.0, n).astype(np.int64)
    return start_us + np.cumsum(gaps)


def events_table(rng: np.random.Generator, offsets: np.ndarray, first_id: int) -> pa.Table:
    n = len(offsets)
    user = rng.zipf(1.3, n).astype(np.int64) % N_USERS
    cents = rng.integers(1, 50_000, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(T0_US + offsets, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(cents / 100.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _write_parts(table: pa.Table, out_dir: str, parts: int) -> None:
    """``parts`` parquet files of consecutive rows (so, in key order)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"))


class EventsRef:
    """Reference answers over a sorted set of ts offsets (µs since T0)."""

    def __init__(self, offsets: np.ndarray):
        self.offsets = offsets
        self.prefix = np.concatenate([[0], np.cumsum(offsets)])

    def range_of(self, lo: int, hi: int) -> tuple[int, int]:
        """(count, key checksum) of stored keys in [lo, hi) offsets."""
        a = int(np.searchsorted(self.offsets, lo, "left"))
        b = int(np.searchsorted(self.offsets, hi, "left"))
        return b - a, int(self.prefix[b] - self.prefix[a])


def _cached(path: str, params: dict, build) -> str:
    """Build ``path`` once per ``params``; a crash mid-build leaves no
    DONE marker, so the next run rebuilds instead of trusting
    half-written inputs."""
    done = os.path.join(path, "DONE")
    stamp = json.dumps(params, sort_keys=True)
    if not os.path.exists(done) or open(done).read() != stamp:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        with open(done, "w") as f:
            f.write(stamp)
    return path


def prune_inputs(inputs_dir: str, max_kept: int = 4) -> None:
    """Drop all but the ``max_kept`` most recently used input sets, so a
    long seed sweep does not fill the disk."""
    dirs = sorted(
        (os.path.join(inputs_dir, d) for d in os.listdir(inputs_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[max_kept:]:
        shutil.rmtree(d, ignore_errors=True)


def kv_read_inputs(path: str, seed: int, rows: int) -> str:
    def build(p):
        rng = np.random.default_rng([seed, 1])
        offs = _ts_offsets(rng, rows)
        _write_parts(events_table(rng, offs, 0), os.path.join(p, "events"), 8)
        np.save(os.path.join(p, "ts_offsets.npy"), offs)

    return _cached(path, {"seed": seed, "rows": rows}, build)


def kv_write_inputs(path: str, seed: int, batch_rows: int, files: int, file_rows: int) -> str:
    """A bulk batch and a backlog of ``files`` event files whose keys
    continue after the batch's, one file per streaming epoch."""

    def build(p):
        rng = np.random.default_rng([seed, 2])
        offs = _ts_offsets(rng, batch_rows + files * file_rows)
        batch = events_table(rng, offs[:batch_rows], 0)
        _write_parts(batch, os.path.join(p, "batch"), 4)
        backlog = events_table(rng, offs[batch_rows:], batch_rows)
        _write_parts(backlog, os.path.join(p, "backlog"), files)
        np.save(os.path.join(p, "ts_offsets.npy"), offs)
        # windowed-aggregation reference over the backlog, in integer
        # cents so the decimal sum compares exactly
        hour = (offs[batch_rows:] // 3_600_000_000).astype(np.int64)
        et = backlog.column("event_type").to_numpy(zero_copy_only=False)
        cents = np.round(backlog.column("value").to_numpy() * 100).astype(np.int64)
        agg: dict = {}
        for h, e, c in zip(hour.tolist(), et.tolist(), cents.tolist()):
            n, s = agg.get((h, e), (0, 0))
            agg[(h, e)] = (n + 1, s + c)
        with open(os.path.join(p, "window_ref.json"), "w") as f:
            json.dump([[h, e, n, s] for (h, e), (n, s) in sorted(agg.items())], f)

    return _cached(path, {"seed": seed, "batch": batch_rows, "files": files, "file_rows": file_rows}, build)


def _zipf_cdf(vocab_size: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab_size + 1) ** s
    return np.cumsum(w) / w.sum()


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, cdf: np.ndarray, lang: str) -> list[str]:
    n = int(rng.integers(30, 120))
    words = list(vocab[np.searchsorted(cdf, rng.random(n))])
    stop = EN_STOP if lang == "en" else OTHER_STOP.get(lang, [])
    for _ in range(n // 6 if stop else 0):
        words.insert(int(rng.integers(0, len(words) + 1)), stop[int(rng.integers(0, len(stop)))])
    return words


def corpus_docs(seed: int, docs: int, dup_share: float = 0.2, mutate: float = 0.05) -> pa.Table:
    """``docs`` documents over a Zipf vocabulary; ``dup_share`` of them
    are near-duplicates of an earlier document with ``mutate`` of their
    tokens replaced. Columns match the documents fixture."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(20_000)])
    cdf = _zipf_cdf(len(vocab))  # rank-frequency 1/k, as in natural text
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    texts: list[str] = []
    doc_lang: list[str] = []
    for i in range(docs):
        if i > 0 and rng.random() < dup_share:
            src = int(rng.integers(0, i))
            words = texts[src].split(" ")
            for j in np.nonzero(rng.random(len(words)) < mutate)[0]:
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            lang = doc_lang[src]
        else:
            lang = str(langs[rng.integers(0, len(langs))])
            words = _doc_text(rng, vocab, cdf, lang)
        texts.append(" ".join(words))
        doc_lang.append(lang)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(doc_lang),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def corpus_input(path: str, seed: int, docs: int) -> str:
    """A corpus directory holding ``documents.parquet``."""

    def build(p):
        pq.write_table(corpus_docs(seed, docs), os.path.join(p, "documents.parquet"))

    return _cached(path, {"seed": seed, "docs": docs}, build)
