"""Seeded workload inputs, the cached oracle answers, and the output check.

Every input comes from ``fixtures.generate.gen_transcripts`` with the
workload seed.  The lexicons are pinned to the seed of the job's default
model (42): the job scores with the model built from the seed-42 labeled
corpus, and a lexicon drawn from another seed shares no words with it, so
~80 % of turns would drop as ``no_lang`` and the kernel would skip the
perplexity stage.  The workload seed drives everything else: conversation
shapes, languages, rule triggers, word choices and the duplicate injection.

The expected output of a run (the reference oracle's decision per turn, and
for ``--dedup exact`` the keep-first set computed here in plain Python) is
computed once per input and cached next to it.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

MODEL_SEED = 42
DECISION_COLS = ("lang", "lang_conf", "ppl", "keep", "drop_reason",
                 "scrubbed_text")
# one Spark split per file below 4 MiB (spark.sql.files.openCostInBytes),
# so the file count sets the scan's parallelism
BATCH_FILES = 8
STREAM_FILES = 16
CACHED_INPUTS = 8

_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def gen_rows(seed: int, n_convs: int, dup_share: float) -> tuple[list[dict], int]:
    """Transcript rows for *seed*; then a seeded ``dup_share`` of turns get
    the text of a uniformly chosen earlier turn.  Returns (rows, injected)."""
    from languagedetection_spark.fixtures import generate

    real_lexicons = generate.gen_lexicons
    generate.gen_lexicons = lambda _seed, size=120: real_lexicons(MODEL_SEED, size)
    try:
        rows = generate.gen_transcripts(seed, n_convs=n_convs)
    finally:
        generate.gen_lexicons = real_lexicons
    injected = 0
    if dup_share > 0:
        rng = random.Random(f"dups-{seed}")
        for i in range(1, len(rows)):
            if rng.random() < dup_share:
                rows[i]["text"] = rows[rng.randrange(i)]["text"]
                injected += 1
    return rows, injected


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))


def default_model_parts():
    """The reference oracle's (Vocabulary, TrigramModel) for the corpus the
    job trains on when given no ``--corpus``."""
    from languagedetection_spark.fixtures.generate import gen_labeled_corpus
    from languagedetection_spark.refmodel.classifier import Vocabulary
    from languagedetection_spark.refmodel.quality import TrigramModel

    rows = [(lang, text) for text, lang, _ in gen_labeled_corpus()]
    vocab = Vocabulary()
    for lang, text in rows:
        vocab.load_labeled(lang, text)
    return vocab, TrigramModel.train(rows)


def oracle_decisions(texts: list[str]) -> list[tuple]:
    """``refmodel.quality.decide_turn`` per text."""
    from languagedetection_spark.refmodel.quality import decide_turn

    vocab, tm = default_model_parts()
    out = []
    for t in texts:
        d = decide_turn(t, vocab, tm)
        out.append((d.lang, d.lang_conf, d.ppl, d.keep, d.drop_reason,
                    d.scrubbed_text))
    return out


def _oracle_parallel(texts: list[str], workers: int, work_dir: str) -> list[tuple]:
    """``oracle_decisions`` over the distinct texts, split across *workers*
    processes of this script that exchange JSON files in *work_dir* (JSON
    floats round-trip exactly)."""
    import subprocess
    import sys

    distinct = sorted(set(texts))
    chunks = [distinct[i::workers] for i in range(workers)]
    procs = []
    for i, chunk in enumerate(chunks):
        src, dst = (os.path.join(work_dir, f"oracle-{i}.{x}.json")
                    for x in ("in", "out"))
        with open(src, "w") as f:
            json.dump(chunk, f)
        procs.append((dst, subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), src, dst])))
    by_text = {}
    for (dst, proc), chunk in zip(procs, chunks):
        if proc.wait() != 0:
            raise RuntimeError(f"oracle worker failed: {proc.args}")
        with open(dst) as f:
            by_text.update(zip(chunk, map(tuple, json.load(f))))
        os.remove(dst)
        os.remove(dst.replace(".out.json", ".in.json"))
    return [by_text[t] for t in texts]


def keep_first(rows: list[dict]) -> set[tuple[str, int]]:
    """Keys of the (conv_id, turn_idx)-minimal turn per distinct text."""
    first: dict[str, tuple[str, int]] = {}
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if r["text"] not in first or k < first[r["text"]]:
            first[r["text"]] = k
    return set(first.values())


def _evict(cache_root: str, keep: str) -> None:
    """Keep the ``CACHED_INPUTS`` most recently used inputs."""
    os.utime(keep)
    dirs = sorted((os.path.join(cache_root, n) for n in os.listdir(cache_root)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[CACHED_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def prepare(cache_root: str, workload: str, seed: int, n_convs: int,
            dup_share: float, dedup: bool, workers: int) -> dict:
    """Generate (or reuse) the input and its expected output.  Returns the
    input description with paths and properties."""
    key = f"{workload}-s{seed}-c{n_convs}-d{dup_share}"
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        _evict(cache_root, d)
        with open(meta_path) as f:
            return json.load(f)
    tmp = d + f".tmp{os.getpid()}"
    rows, injected = gen_rows(seed, n_convs, dup_share)
    table = pa.Table.from_pylist(rows, schema=_SCHEMA)
    _write_files(table, os.path.join(tmp, "input"), BATCH_FILES)
    texts = [r["text"] for r in rows]
    decisions = _oracle_parallel(texts, workers, tmp)
    expected_keys = keep_first(rows) if dedup else None
    exp = [
        {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "text": r["text"],
         **dict(zip(DECISION_COLS, dec))}
        for r, dec in zip(rows, decisions)
        if expected_keys is None or (r["conv_id"], r["turn_idx"]) in expected_keys
    ]
    pq.write_table(pa.Table.from_pylist(exp), os.path.join(tmp, "expected.parquet"))
    in_files = sorted(glob.glob(os.path.join(tmp, "input", "*.parquet")))
    meta = {
        "workload": workload, "seed": seed, "n_convs": n_convs,
        "input": os.path.join(d, "input"),
        "expected": os.path.join(d, "expected.parquet"),
        "turns": len(rows),
        "expected_turns": len(exp),
        "expected_kept": sum(1 for e in exp if e["keep"]),
        "expected_convs": len({e["conv_id"] for e in exp}),
        "bytes": sum(os.path.getsize(p) for p in in_files),
        "files": len(in_files),
        "distinct_text_share": round(len(set(texts)) / len(texts), 6),
        "injected_dup_share": round(injected / len(rows), 6),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, d)
    _evict(cache_root, d)
    return meta


def stream_input(meta: dict) -> str:
    """The same input re-written as ``STREAM_FILES`` files, for the
    micro-batch probe (``maxFilesPerTrigger`` is 4)."""
    out = os.path.join(os.path.dirname(meta["input"]), "stream_input")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        _write_files(pq.read_table(meta["input"], schema=_SCHEMA), tmp,
                     STREAM_FILES)
        os.replace(tmp, out)
    return out


def read_parquet_files(path: str, columns=None) -> pa.Table:
    """Concatenate every ``*.parquet`` file under *path*, ignoring Spark's
    ``_``-prefixed metadata dirs and the ``bucket=N`` path segments."""
    files = sorted(
        p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True)
        if not any(part.startswith("_")
                   for part in os.path.relpath(p, path).split(os.sep))
    )
    tables = [pq.read_table(p, columns=columns) for p in files]
    if not tables:
        return pa.table({c: [] for c in (columns or [])})
    return pa.concat_tables(tables, promote_options="permissive")


def check_output(out_dir: str, meta: dict) -> dict:
    """Compare a job's per-turn output with the cached expectation.

    A turn is an error if it is missing, duplicated, unexpected, or differs
    from the oracle in any decision column or in its text.  Floats compare
    exactly: the kernel and the oracle both sum with ``math.fsum``."""
    cols = ["conv_id", "turn_idx", "text", *DECISION_COLS]
    got = read_parquet_files(out_dir, cols).to_pylist()
    expected = {
        (e["conv_id"], e["turn_idx"]): e
        for e in pq.read_table(meta["expected"]).to_pylist()
    }
    seen: set = set()
    wrong = dup = unexpected = 0
    for r in got:
        k = (r["conv_id"], r["turn_idx"])
        e = expected.get(k)
        if e is None:
            unexpected += 1
        elif k in seen:
            dup += 1
        else:
            seen.add(k)
            if any(r[c] != e[c] for c in cols):
                wrong += 1
    missing = len(expected) - len(seen)
    return {"expected": len(expected), "rows": len(got), "wrong": wrong,
            "missing": missing, "duplicated": dup, "unexpected": unexpected,
            "errors": wrong + missing + dup + unexpected}


def code_hash(root: str) -> str:
    """Content hash of the package sources (the checkout is not a git repo)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "languagedetection_spark")
    for p in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


if __name__ == "__main__":
    # oracle worker: python3 inputs.py TEXTS.json DECISIONS.json
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(sys.argv[1]) as f:
        texts = json.load(f)
    with open(sys.argv[2], "w") as f:
        json.dump(oracle_decisions(texts), f)
