"""Seeded benchmark inputs, generated once per seed and cached under the
checkout (``.perfbench/inputs``). Nothing is downloaded: every table is a
pure function of the seed and the size constants below.

- ``events`` / ``documents`` / ``embeddings`` mirror the schema and value
  shapes of the engine's sf test tables (TESTDATA.md: 30 days of events over 5 types and
  1500 users; 30-word-vocabulary documents with 5% planted near-duplicates
  ending in " dup"; 64-d unit embeddings over 10 labels).
- The token table holds ``synth.tokens_raw_pdf`` rows with real token
  arrays, in the layout ``sources.table.write_tokens_table`` writes.
- Stream arrivals are day-long ``synth.tokens_raw_pdf`` slices plus
  seeded document batches, one token file and one document file each.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def events_pdf(n: int, seed: int) -> pd.DataFrame:
    rng = _rng(seed, 1)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    n_users = max(50, min(1500, n // 60))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_pdf(n: int, seed: int, id_offset: int = 0) -> pd.DataFrame:
    """Random-word documents; every 20th-ish doc is a near-duplicate of an
    earlier one (its text plus a trailing " dup"), so the pair stages have
    real pairs to find."""
    rng = _rng(seed, 2)
    lengths = rng.integers(10, 101, n)
    words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dup = rng.random(n) < 0.05
    dup[0] = False
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(id_offset, id_offset + n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_pdf(n: int, seed: int, dim: int = 64) -> pd.DataFrame:
    rng = _rng(seed, 3)
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    m = rng.normal(size=(n, dim)) + 0.5 * centers[labels]
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(m), "label": labels})


def _publish(build, path: str) -> str:
    """Build into a temp sibling, then rename: a killed run never leaves a
    half-written cache entry behind."""
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, path)
    return path


def query_tables(cache: str, seed: int, n_events: int, n_docs: int,
                 n_vecs: int) -> str:
    """Directory holding events/documents/embeddings parquet for ``seed``."""

    def build(tmp):
        events_pdf(n_events, seed).to_parquet(f"{tmp}/events.parquet", index=False)
        documents_pdf(n_docs, seed).to_parquet(f"{tmp}/documents.parquet", index=False)
        embeddings_pdf(n_vecs, seed).to_parquet(f"{tmp}/embeddings.parquet", index=False)

    return _publish(build, os.path.join(
        cache, f"tables-s{seed}-e{n_events}-d{n_docs}-v{n_vecs}"))


def token_table(cache: str, seed: int, n_rows: int, max_n_tok: int) -> str:
    """The production token table for ``seed``: ``synth.tokens_raw_pdf``
    rows (real token arrays; ``synth.tokens_raw_df`` generates the same rows
    distributed) laid out as ``sources.table.write_tokens_table`` lays them
    out, hive-partitioned by ``source`` and ``bucket_day``. Written from the
    Spark driver process, so no Spark worker memory is spent on inputs."""
    from rasusa_spark.synth import tokens_raw_pdf

    def build(tmp):
        pdf = tokens_raw_pdf(n_rows, seed=seed, max_n_tok=max_n_tok)
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
        pdf["bucket_day"] = pdf["ts"].dt.strftime("%Y-%m-%d")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_to_dataset(table, f"{tmp}/tokens",
                            partition_cols=["source", "bucket_day"],
                            coerce_timestamps="us")

    return os.path.join(_publish(build, os.path.join(
        cache, f"tokens-s{seed}-n{n_rows}-t{max_n_tok}")), "tokens")


def arrival(cache: str, seed: int, k: int, rows: int, docs: int,
            max_n_tok: int, origin_seed: int) -> str:
    """Arrival ``k`` of a time-ordered stream: ``tok.parquet`` holds
    ``synth.tokens_raw_pdf`` rows ``[k * rows, (k + 1) * rows)`` moved onto
    day ``k`` (times of day kept), ``doc.parquet`` holds ``docs`` documents
    with ids ``[k * docs, (k + 1) * docs)``. From the second arrival on, a
    tenth of the documents are near-duplicates (text plus " dup") of the
    first arrival of ``origin_seed``, so the minhash increment finds pairs
    against its persisted store as well as inside the delta."""
    from rasusa_spark.synth import tokens_raw_pdf

    def build(tmp):
        pdf = tokens_raw_pdf(rows, seed=seed, start=k * rows, max_n_tok=max_n_tok)
        day0 = pd.Timestamp("2026-01-01")
        secs = (pdf["ts"] - day0).dt.total_seconds().astype("int64") % 86_400
        pdf["ts"] = (day0 + pd.Timedelta(days=k)
                     + pd.to_timedelta(secs, unit="s")).dt.tz_localize("UTC")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       f"{tmp}/tok.parquet", coerce_timestamps="us")
        d = documents_pdf(docs, seed * 1000 + k, id_offset=k * docs)
        if k:
            rng = _rng(seed * 1000 + k, 4)
            origin = documents_pdf(docs, origin_seed * 1000)["text"].to_numpy()
            for i in np.flatnonzero(rng.random(docs) < 0.1):
                d.loc[i, "text"] = origin[int(rng.integers(0, docs))] + " dup"
            d["n_chars"] = d["text"].str.len().astype(np.int64)
        d.to_parquet(f"{tmp}/doc.parquet", index=False)

    return _publish(build, os.path.join(
        cache, f"arrival-s{seed}-k{k}-r{rows}-d{docs}-t{max_n_tok}-o{origin_seed}"))
