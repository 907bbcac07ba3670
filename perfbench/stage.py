"""Staging of generated inputs, content verification and the oracle cache.

Each staged file is recorded in ``_manifest.json`` next to it with two
digests: the content digest of the generated rows (``gen.content_digest``)
and the sha256 of the parquet file's bytes. Before a run is timed, every
file is regenerated from the seed and checked against both; a file whose
content or bytes drifted is written again.

The oracle expectation (``oracle.golden.run`` on a generated file: key,
keep, scrubbed text) is cached per file under a key made of the file's
content digest and a digest of the program's source tree, so the same input
on the same program is only computed once.

Staging runs file by file in a spawn pool of worker processes, which ends
before the benchmark starts its session: each task is a pure function of
its arguments and writes one input file and one expectation file.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
from collections.abc import Callable
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

MANIFEST = "_manifest.json"
CACHE_FILES = 2048  # expectation files kept; the least recently used go


@dataclass(frozen=True)
class Layout:
    """How a workload's input is cut into files."""
    kind: str   # "pages" or "docs"
    files: int
    rows: int   # rows per file

    def name(self, index: int) -> str:
        return f"part-{index:05d}.parquet"

    def generate(self, seed: int, index: int) -> pd.DataFrame:
        fn = gen.pages if self.kind == "pages" else gen.docs
        return fn(seed, index, self.rows)

    @property
    def key(self) -> str:
        return "url" if self.kind == "pages" else "doc_id"


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def tree_digest(root: str) -> str:
    """sha256 over every .py file under ``root`` (relative path + bytes),
    in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _write_parquet(pdf: pd.DataFrame, path: str, **options) -> None:
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    if "warc_ts" in pdf:
        # Spark's parquet reader rejects TIMESTAMP(NANOS): store micros
        t = t.cast(pa.schema([pa.field("warc_ts", pa.timestamp("us"))
                              if f.name == "warc_ts" else f for f in t.schema]))
    d, n = os.path.split(path)
    tmp = os.path.join(d, f".{n}.tmp")  # dot files are skipped by readers
    pq.write_table(t, tmp, **options)
    os.replace(tmp, path)


def _expect(pdf: pd.DataFrame, key: str, path: str) -> None:
    """Write the golden oracle's (key, keep, scrubbed text) for a frame."""
    from ksana_corpus_builder_spark.oracle import golden
    # documents are already extracted text: they go in as html
    pages = pdf if key == "url" else pd.DataFrame({"url": pdf[key],
                                                   "html": pdf["text"]})
    got = golden.run(pages)
    _write_parquet(pd.DataFrame({key: pdf[key], "keep": got["keep"].astype(bool),
                                 "text": got["scrubbed_text"]}), path,
                   compression="zstd")


def stage_file(layout: Layout, seed: int, index: int, path: str,
               recorded: dict | None, source_digest: str, cache_dir: str) -> dict:
    """Regenerate file ``index``, make ``path`` hold exactly it, and make
    sure the oracle's expectation for it is cached. ``recorded`` is the
    file's manifest entry from an earlier staging (or None). Returns the new
    entry; ``restaged`` tells whether the file had to be written."""
    pdf = layout.generate(seed, index)
    digest = gen.content_digest(pdf)
    expect = os.path.join(cache_dir, hashlib.sha256(
        (digest + source_digest).encode()).hexdigest() + ".parquet")
    if os.path.isfile(expect):
        os.utime(expect)  # recently used: kept by the pruning in stage()
    else:
        _expect(pdf, layout.key, expect)
    if (recorded is not None and recorded.get("content") == digest
            and os.path.isfile(path)
            and file_sha256(path) == recorded.get("sha256")):
        return {**recorded, "expect": expect, "restaged": False}
    _write_parquet(pdf, path)
    return {"content": digest, "sha256": file_sha256(path), "rows": len(pdf),
            "expect": expect, "restaged": True}


def _map(fn: Callable, arg_lists: list[tuple], workers: int) -> list:
    if workers <= 1:
        return [fn(*a) for a in arg_lists]
    spawn = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=spawn) as ex:
        futs = [ex.submit(fn, *a) for a in arg_lists]
        out = [f.result() for f in futs]
    # the spawn context's helper process would outlive the pool
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    return out


@dataclass
class Staged:
    """A workload's staged input: its files and their manifest entries."""
    dir: str
    layout: Layout
    entries: dict[str, dict]

    @property
    def names(self) -> list[str]:
        return [self.layout.name(i) for i in range(self.layout.files)]

    @property
    def input_digest(self) -> str:
        h = hashlib.sha256()
        for n in self.names:
            h.update(self.entries[n]["content"].encode())
        return h.hexdigest()

    @property
    def restaged(self) -> int:
        return sum(e["restaged"] for e in self.entries.values())

    def paths(self) -> list[str]:
        return [os.path.join(self.dir, n) for n in self.names]


def stage(layout: Layout, seed: int, out_dir: str, workers: int,
          source_digest: str, cache_dir: str) -> Staged:
    """Stage (or verify and reuse) every file of a workload's input, and
    cache the oracle's expectation of each under ``cache_dir`` for the
    program source tree with digest ``source_digest``."""
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(cache_dir, exist_ok=True)
    man_path = os.path.join(out_dir, MANIFEST)
    try:
        with open(man_path) as f:
            man = json.load(f)
    except (OSError, ValueError):
        man = {}
    files = man.get("files", {}) if man.get("seed") == seed else {}
    names = [layout.name(i) for i in range(layout.files)]
    for fn in os.listdir(out_dir):  # files of another layout or seed
        if fn.endswith(".parquet") and fn not in names:
            os.remove(os.path.join(out_dir, fn))
    args = [(layout, seed, i, os.path.join(out_dir, n), files.get(n),
             source_digest, cache_dir) for i, n in enumerate(names)]
    entries = dict(zip(names, _map(stage_file, args, workers)))
    # "_" keeps the manifest and its temporary away from parquet readers
    with open(man_path + ".tmp", "w") as f:
        json.dump({"seed": seed, "layout": layout.__dict__,
                   "files": {n: {k: v for k, v in e.items()
                                 if k in ("content", "sha256", "rows")}
                             for n, e in entries.items()}}, f)
    os.replace(man_path + ".tmp", man_path)
    cached = sorted((e.stat().st_mtime, e.path) for e in os.scandir(cache_dir))
    for _, p in cached[:-CACHE_FILES]:
        os.remove(p)
    return Staged(out_dir, layout, entries)


def expectations(staged: Staged) -> pd.DataFrame:
    """The oracle's expectation over every staged file, one frame."""
    return pd.concat([pq.read_table(staged.entries[n]["expect"]).to_pandas()
                      for n in staged.names], ignore_index=True)
