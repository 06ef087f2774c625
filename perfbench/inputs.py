"""Input generation. Every table is a pure function of the seed and is
written to parquet under the run's work directory; the timed
operations read only those files.

Token tables come from the package's own generator
(``sources.tokens``). Probe keys and the ``documents`` table the
curation queries read are drawn with numpy and written with pyarrow.
"""

from __future__ import annotations

import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_token_table(path: pathlib.Path, num_docs: int, seed: int,
                      vocab: int, files: int, batch_docs: int | None = None) -> None:
    """Rows of the canonical token table to parquet.

    ``sources.tokens.tokens_batch`` is the per-batch body of
    ``tokens_table`` (a pure function of seed and doc index), called here
    in the driver so set-up needs no Spark job and can overlap the
    session start. With ``batch_docs`` the rows are split into hive
    partitions ``batch=<doc index // batch_docs>``, one per stream
    micro-batch; otherwise into ``files`` files.
    """
    from cuckoofilter_spark.sources.tokens import tokens_batch

    step = batch_docs or -(-num_docs // files)
    for i, lo in enumerate(range(0, num_docs, step)):
        pdf = tokens_batch(np.arange(lo, min(lo + step, num_docs)), seed, vocab)
        table = pa.table({
            "doc_id": pa.array(pdf["doc_id"]),
            "tokens": pa.array(pdf["tokens"], pa.list_(pa.int32())),
            "n_tok": pa.array(pdf["n_tok"], pa.int32()),
            "source": pa.array(pdf["source"]),
        })
        out = path / f"batch={i}" if batch_docs else path
        out.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, out / f"part-{i:03d}.parquet")


def _write_split(table: pa.Table, path: pathlib.Path, files: int) -> None:
    """Several files, so Spark plans one scan task per core."""
    path.mkdir(parents=True, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:03d}.parquet")


def write_probe_inputs(work: pathlib.Path, n_keys: int, n_probes: int,
                       seed: int, files: int) -> dict:
    """Distinct int64 filter keys, and a shuffled probe column that is
    half keys drawn from them and half keys from a disjoint range.
    The first tenth of the probe rows is also written on its own, to
    warm the probe paths up cheaply."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(1, 1 << 62, size=n_keys, dtype=np.int64))
    while keys.size < n_keys:  # collisions are ~1e-7 likely; top up
        more = rng.integers(1, 1 << 62, size=n_keys - keys.size, dtype=np.int64)
        keys = np.unique(np.concatenate([keys, more]))
    keys = rng.permutation(keys)
    n_present = n_probes // 2
    present = keys[rng.integers(0, n_keys, size=n_present)]
    absent = rng.integers(1 << 62, (1 << 63) - 1, size=n_probes - n_present,
                          dtype=np.int64)
    flag = np.concatenate([np.ones(n_present, bool),
                           np.zeros(n_probes - n_present, bool)])
    order = rng.permutation(n_probes)
    probes = pa.table({"k": np.concatenate([present, absent])[order],
                       "present": flag[order]})
    n_warm = n_probes // 10
    warm_present = int(flag[order][:n_warm].sum())
    _write_split(pa.table({"k": keys}), work / "keys", files)
    _write_split(probes, work / "probes", files)
    _write_split(probes.slice(0, n_warm), work / "probes_warm", files)
    return {"keys": str(work / "keys"), "n_keys": int(n_keys),
            "probes": (str(work / "probes"), n_present, n_probes - n_present),
            "probes_warm": (str(work / "probes_warm"), warm_present,
                            n_warm - warm_present)}


_WORDS = np.array(
    "a batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value window "
    "agg join index shard probe sketch token count bloom cuckoo tag bucket "
    "load page cache".split())
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.44, 0.14, 0.14, 0.14, 0.14])


def write_curation_tables(out: pathlib.Path, seed: int, docs: int = 500) -> str:
    """The ``documents`` table the curation queries read, at the sf0.01
    shape: word-salad texts with planted near-duplicates."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    texts = []
    for i in range(docs):
        if i % 10 == 9:  # near-duplicate of an earlier doc: one word swapped
            w = texts[int(rng.integers(0, i - 1))].split()
            w[int(rng.integers(0, len(w)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(w))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_WORDS, size=n)))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }), out / "documents.parquet")
    return str(out)
