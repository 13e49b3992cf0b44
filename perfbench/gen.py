"""Seeded, vectorized input generators.

Tick lines use the ``value`` shape of ``sources.ticks.to_kafka_payload``:
``{"symbol":...,"price":...,"event_time_ms":...}``, one JSON object per
line.  Every generator writes a manifest (one JSON object per input file)
so the benchmark counts work from what was offered, not from Spark's
``numInputRows``.

Run as a script, this module is the live load generator: a single process,
separate from Spark, that writes one file per 100 ms on a fixed schedule
that does not slow down when the engine does:

    python3 perfbench/gen.py --out DIR --manifest FILE --seed N \\
        --seconds S --start-ms EPOCH_MS
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

SYMBOLS = 500
ZIPF_S = 0.8
LIVE_RATE = 20_000  # ticks per second
LIVE_FILE_MS = 100
LIVE_PER_FILE = LIVE_RATE * LIVE_FILE_MS // 1000
BASE_EVENT_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
BACKLOG_SPACING_MS = 20


def symbol_names() -> list[str]:
    return [f"S{i:03d}" for i in range(SYMBOLS)]


def zipf_weights() -> np.ndarray:
    """Zipf(s) popularity over the symbols, S000 the most popular.  The
    ranking is fixed rather than seeded, so every seed puts the hot keys in
    the same shuffle partitions and the seed does not move the skew."""
    w = 1.0 / np.arange(1, SYMBOLS + 1) ** ZIPF_S
    return w / w.sum()


def _walk_prices(rng: np.random.Generator, sym: np.ndarray) -> np.ndarray:
    """Per-symbol geometric random walk, rounded to 4 dp like the producer."""
    base = rng.uniform(20.0, 400.0, SYMBOLS)
    inc = rng.normal(0.0, 2e-4, sym.size)
    order = np.argsort(sym, kind="stable")
    cs = np.cumsum(inc[order])
    s_sorted = sym[order]
    starts = np.flatnonzero(np.r_[True, s_sorted[1:] != s_sorted[:-1]])
    offset = np.repeat(cs[starts] - inc[order][starts], np.diff(np.r_[starts, sym.size]))
    walk = np.empty_like(cs)
    walk[order] = cs - offset
    return np.round(base[sym] * np.exp(walk), 4)


def tick_lines(sym: np.ndarray, price: np.ndarray, event_ms: np.ndarray) -> str:
    names = symbol_names()
    return "".join(
        f'{{"symbol":"{names[s]}","price":{p!r},"event_time_ms":{t}}}\n'
        for s, p, t in zip(sym.tolist(), price.tolist(), event_ms.tolist())
    )


def live_ticks(seed: int, seconds: float):
    """(symbol index, price, ms offset) for an open-loop run of ``seconds``.

    Each millisecond carries ``LIVE_RATE/1000`` ticks with distinct symbols
    (Gumbel top-k over the Zipf weights), so per-symbol event time is
    strictly increasing and first/last price have no ties."""
    rng = np.random.default_rng(seed)
    logw = np.log(zipf_weights())
    per_ms = LIVE_RATE // 1000
    n_ms = int(round(seconds * 1000))
    sym = np.empty((n_ms, per_ms), dtype=np.int64)
    chunk = 2000
    for lo in range(0, n_ms, chunk):
        g = logw + rng.gumbel(size=(min(chunk, n_ms - lo), SYMBOLS))
        sym[lo : lo + g.shape[0]] = np.argpartition(-g, per_ms, axis=1)[:, :per_ms]
    sym = sym.ravel()
    offs = np.repeat(np.arange(n_ms, dtype=np.int64), per_ms)
    return sym, _walk_prices(rng, sym), offs


def live_file(ticks, start_ms: int, i: int) -> tuple[str, str]:
    """Name and content of the i-th 100 ms file of a live run."""
    sym, price, offs = ticks
    lo, hi = i * LIVE_PER_FILE, (i + 1) * LIVE_PER_FILE
    return f"ticks-{i:06d}.json", tick_lines(sym[lo:hi], price[lo:hi], start_ms + offs[lo:hi])


def write_backlog(out_dir: str, manifest: str, seed: int, n_ticks: int, ticks_per_file: int) -> None:
    """Historical backlog: one tick per BACKLOG_SPACING_MS of event time (so
    no two ticks share a timestamp), Zipf-drawn symbols, JSON-lines files."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(seed)
    sym = rng.choice(SYMBOLS, size=n_ticks, p=zipf_weights())
    price = _walk_prices(rng, sym)
    event_ms = BASE_EVENT_MS + np.arange(n_ticks, dtype=np.int64) * BACKLOG_SPACING_MS
    # the same lines as tick_lines, built in Arrow: one string array whose
    # data buffer is the files' content back to back
    lines = pc.binary_join_element_wise(
        '{"symbol":"', pa.array(symbol_names()).take(pa.array(sym)),
        '","price":', pc.cast(pa.array(price), pa.string()),
        ',"event_time_ms":', pc.cast(pa.array(event_ms), pa.string()),
        "}\n", "",
    )
    data = lines.buffers()[2]
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    os.makedirs(out_dir, exist_ok=True)
    with open(manifest, "w") as man:
        for i, lo in enumerate(range(0, n_ticks, ticks_per_file)):
            hi = min(lo + ticks_per_file, n_ticks)
            name = f"ticks-{i:05d}.json"
            with open(os.path.join(out_dir, name), "wb") as f:
                f.write(memoryview(data)[offsets[lo] : offsets[hi]])
            man.write(json.dumps({"file": name, "n": hi - lo}) + "\n")


# --------------------------------------------------------------------------
# Documents


REQUIRED_WORDS = ("the", "a", "data", "value", "key", "join", "row", "line")
DUP_SHARE = 0.15

_STRUCT_DECOR = {
    1: lambda t: f"- {t}\n- end point\n- fin point",
    5: lambda t: f"- intro point\nmid line\n{t}",
    2: lambda t: f"{t}...",
    6: lambda t: f"lead line...\nsecond line\nthird\n{t}",
    3: lambda t: f"{t} # # # # # # # # # # # #",
    7: lambda t: f"{t} #",
}
_REP_DECOR = {
    1: lambda t: f"{t}\nrepeat line alpha\nrepeat line alpha\nrepeat line alpha",
    2: lambda t: f"{t}\n\nblock beta gamma\n\nblock beta gamma",
    3: lambda t: t + " " + "spam ham " * 20,
    4: lambda t: t + " " + "the quick brown fox jumps high sure " * 3,
}


def documents(seed: int, n_docs: int, first_id: int = 0):
    """(doc_id, text) lists: word soup over a seeded vocabulary with the
    Gopher structural (doc_id % 8) and repetition (doc_id % 9) decoration
    stripes, so every rule fires, plus planted exact and near-duplicate
    copies of earlier documents (some in the same batch, most across)."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, size=k)) for k in rng.integers(3, 9, 3000)]
    vocab = np.array(list(REQUIRED_WORDS) + vocab)
    w = 1.0 / np.arange(1, vocab.size + 1)
    lengths = rng.integers(14, 90, n_docs)
    words = rng.choice(vocab.size, size=int(lengths.sum()), p=w / w.sum())
    ids = list(range(first_id, first_id + n_docs))
    texts = []
    for doc_id, ws in zip(ids, np.split(words, np.cumsum(lengths)[:-1])):
        t = " ".join(vocab[ws].tolist())
        t = _STRUCT_DECOR.get(doc_id % 8, lambda x: x)(t)
        t = _REP_DECOR.get(doc_id % 9, lambda x: x)(t)
        texts.append(t)
    # plant duplicates of earlier documents: half exact, half with one word
    # swapped (still far above the writer's est-Jaccard threshold)
    targets = rng.choice(np.arange(n_docs // 10, n_docs), size=int(n_docs * DUP_SHARE), replace=False)
    for k, j in enumerate(targets.tolist()):
        t = texts[int(rng.integers(0, j))]
        if k % 2:
            toks = t.split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(vocab[int(rng.integers(8, vocab.size))])
            t = " ".join(toks)
        texts[j] = t
    return ids, texts


def write_documents(out_dir: str, manifest: str, ids, texts, docs_per_file: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    with open(manifest, "w") as man:
        for i, lo in enumerate(range(0, len(ids), docs_per_file)):
            hi = min(lo + docs_per_file, len(ids))
            name = f"docs-{i:05d}.parquet"
            table = pa.table(
                {"doc_id": pa.array(ids[lo:hi], pa.int64()), "text": pa.array(texts[lo:hi], pa.string())}
            )
            pq.write_table(table, os.path.join(out_dir, name))
            man.write(json.dumps({"file": name, "n": hi - lo, "ids": [ids[lo], ids[hi - 1]]}) + "\n")


def read_manifest(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# --------------------------------------------------------------------------
# The live generator process


def run_live(out_dir: str, manifest: str, seed: int, seconds: float, start_ms: int) -> None:
    """Write file i once its last tick is due, stamped with due times."""
    ticks = live_ticks(seed, seconds)
    os.makedirs(out_dir, exist_ok=True)
    with open(manifest, "w") as man:
        for i in range(ticks[0].size // LIVE_PER_FILE):
            name, body = live_file(ticks, start_ms, i)
            due_end_ms = start_ms + (i + 1) * LIVE_FILE_MS
            wait = due_end_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(out_dir, f".{name}.tmp")  # hidden from the file source
            with open(tmp, "w") as f:
                f.write(body)
            os.rename(tmp, os.path.join(out_dir, name))
            written = time.time() * 1000.0
            man.write(json.dumps({
                "file": name, "n": LIVE_PER_FILE, "due_end_ms": due_end_ms,
                "written_ms": written, "late_ms": written - due_end_ms,
            }) + "\n")
            man.flush()


def main() -> None:
    ap = argparse.ArgumentParser(description="live tick load generator")
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ms", type=int, required=True)
    a = ap.parse_args()
    run_live(a.out, a.manifest, a.seed, a.seconds, a.start_ms)


if __name__ == "__main__":
    main()
