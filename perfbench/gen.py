"""Seeded input generation.

The source is the sf0.01 table snapshot under ``perfbench/data``. For a
seed, every table's rows are permuted by a seeded hash of their position;
the schema, the physical column types (``events.ts`` included) and the
one-file-per-table layout stay the same, so every query's answer is the
same for every seed while the engine sees a different physical order.

The binary, GIF, PNG and WAV corpora come from the package's own fixture
builders; they do not depend on the seed.

Everything is cached under the work directory: tables per (source
fingerprint, seed), corpora per source fingerprint.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE = os.path.join(HERE, "data", "sf0.01")
SF = 0.01


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree_files(d: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
    )


def source_fingerprint(source: str = SOURCE) -> str:
    return file_digest(tree_files(source) + [__file__])[:12]


def permutation(n: int, seed: int) -> np.ndarray:
    """Row order for ``n`` rows: sort positions by a splitmix64 hash of
    (position, seed)."""
    with np.errstate(over="ignore"):
        x = np.arange(n, dtype=np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return np.argsort(x, kind="stable")


def write_tables(source: str, out: str, seed: int) -> None:
    os.makedirs(out)
    for name in sorted(os.listdir(source)):
        if not name.endswith(".parquet"):
            continue
        table = pq.read_table(os.path.join(source, name))
        table = table.take(permutation(table.num_rows, seed))
        pq.write_table(table, os.path.join(out, name))


def write_corpora(out: str) -> None:
    """Build the four media/binary corpora with the package's builders."""
    from hadoop_hdfs_spark.blobfixture import blob_fixture_dir
    from hadoop_hdfs_spark.pipeline import gifcodec, mediafixture

    # The blob builder only writes to its own directory; copy its output.
    shutil.copytree(blob_fixture_dir(SF), os.path.join(out, "blob"))
    os.remove(os.path.join(out, "blob", ".done"))
    writers = {
        "gif": (gifcodec.fixture_n_assets(SF), gifcodec.fixture_gif_bytes),
        "png": (mediafixture.fixture_n_assets(SF), mediafixture.png_fixture_bytes),
        "wav": (mediafixture.fixture_n_assets(SF), mediafixture.wav_fixture_bytes),
    }
    for kind, (n, asset_bytes) in writers.items():
        d = os.path.join(out, kind)
        os.makedirs(d)
        for a in range(n):
            with open(os.path.join(d, f"asset_{a:05d}.{kind}"), "wb") as f:
                f.write(asset_bytes(a))


def _cached(path: str, build) -> str:
    """Build ``path`` once: into a pid-suffixed directory, then rename."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    os.rename(tmp, path)
    return path


def generate(work: str, seed: int) -> dict[str, str]:
    """Generate (or reuse) the inputs for ``seed``. Returns the table
    directory, the corpus directories and the input digest."""
    fp = source_fingerprint()
    corpora = _cached(os.path.join(work, "inputs", f"corpora_{fp}"), write_corpora)
    tables = _cached(
        os.path.join(work, "inputs", f"tables_{fp}_s{seed}", f"sf{SF:g}"),
        lambda d: write_tables(SOURCE, d, seed),
    )
    digest = file_digest(tree_files(tables) + tree_files(corpora))[:16]
    return {
        "sf_dir": tables,
        "blob": os.path.join(corpora, "blob"),
        "gif": os.path.join(corpora, "gif"),
        "png": os.path.join(corpora, "png"),
        "wav": os.path.join(corpora, "wav"),
        "digest": digest,
    }
