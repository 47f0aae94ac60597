"""Pinned, seeded inputs for the graft benchmark.

The benchmark reads three tables of the image's read-only test data at
SF_DIR and checks them against the checksums pinned here before it uses
them. From them and the seed it derives the curation corpus, by this file
alone, so a change to the program's own corpus generators cannot change
the workload:

  * documents: every token gets a seeded suffix. Token equality, and so
    the near-duplicate structure, is kept; token hashes, and so the
    MinHash signatures, LSH candidates and duplicate groups, change with
    the seed.
  * embeddings: dimension d is multiplied by a seeded sign (bit d mod 64
    of a splitmix64 draw). float * +-1 is exact.

Each table is written as PARTS part files, so a scan has several tasks.
Expected results of the curation ops come from the repository's DuckDB
oracle SQL run on the corpus, hashed like graftbench.RowHash hashes the
Spark results, and are cached by corpus checksum.
"""
import hashlib
import json
import os
import shutil
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = "/root/testdata/sf0.1"

# sha256 of the file bytes and row count of every source table used
PINNED = {
    "events": ("1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2", 100000),
    "documents": ("d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82", 5000),
    "embeddings": ("f5a6fe8c86ce87190f685e5d246b3e544155aa147a7f47af7d32bb6d8ebe0a95", 2000),
}

PARTS = 4
MASK64 = (1 << 64) - 1


class InputError(Exception):
    pass


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def check_sources():
    """Fails unless every source table matches its pinned checksum."""
    for table, (sha, rows) in PINNED.items():
        path = os.path.join(SF_DIR, table + ".parquet")
        if not os.path.isfile(path):
            raise InputError(f"missing source table {path}")
        got = sha256_file(path)
        n = pq.ParquetFile(path).metadata.num_rows
        if got != sha or n != rows:
            raise InputError(f"{path}: sha256 {got} rows {n}, pinned {sha} rows {rows}")


def splitmix64(x):
    z = (x + 0x9E3779B97F4A7C15) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def _documents(draw, docs):
    suffix = "x%012x" % (draw >> 16)
    texts = [" ".join(t + suffix for t in s.split(" ")) for s in docs.column("text").to_pylist()]
    return docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts, pa.string())) \
        .set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                    pa.array([len(t) for t in texts], pa.int64()))


def _embeddings(draw, emb):
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    signs = np.array([-1.0 if (draw >> (d % 64)) & 1 else 1.0
                      for d in range(vecs.shape[1])], dtype=np.float32)
    return emb.set_column(emb.schema.get_field_index("embedding"), "embedding",
                          pa.array(list(vecs * signs), pa.list_(pa.float32())))


def _corpus_files(corpus):
    return sorted(os.path.relpath(os.path.join(d, f), corpus)
                  for d, _, fs in os.walk(corpus) for f in fs if f.endswith(".parquet"))


def _manifest_of(corpus):
    files = _corpus_files(corpus)
    rows = {t: sum(pq.ParquetFile(os.path.join(corpus, f)).metadata.num_rows
                   for f in files if f.startswith(t + ".parquet"))
            for t in ("documents", "embeddings")}
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0" + sha256_file(os.path.join(corpus, f)).encode() + b"\n")
    return {"rows": rows, "sha256": h.hexdigest()}


def prepare_corpus(cache_dir, seed):
    """Writes (or reuses) the corpus for `seed`; returns (dir, manifest).

    A cached corpus is used only if its files still match the manifest
    written with it, and every corpus must have the source row counts.
    """
    corpus = os.path.join(cache_dir, f"corpus-s{seed}")
    manifest_path = os.path.join(corpus, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if _manifest_of(corpus) != manifest:
            raise InputError(f"{corpus}: files differ from their manifest")
    else:
        tmp = corpus + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        draw = splitmix64(seed & MASK64)
        for table, make in (("documents", _documents), ("embeddings", _embeddings)):
            out = make(draw, pq.read_table(os.path.join(SF_DIR, table + ".parquet")))
            os.makedirs(os.path.join(tmp, table + ".parquet"))
            step = -(-out.num_rows // PARTS)
            for i in range(PARTS):
                pq.write_table(out.slice(i * step, step),
                               os.path.join(tmp, f"{table}.parquet", f"part-{i:05d}.parquet"))
        manifest = _manifest_of(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, corpus)
    want = {t: PINNED[t][1] for t in ("documents", "embeddings")}
    if manifest["rows"] != want:
        raise InputError(f"{corpus}: rows {manifest['rows']}, expected {want}")
    return corpus, manifest


def _encode(v):
    """Must match graftbench.RowHash.encode."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, float):
        if v != v:
            return "f:nan"
        if v == 0.0:
            return "f:0"
        return "f:%x" % struct.unpack(">Q", struct.pack(">d", v))[0]
    if isinstance(v, str):
        return "s:" + v
    raise InputError(f"no canonical encoding for {type(v).__name__}")


def result_hash(names, rows):
    """(row count, hex sha-256), as graftbench.RowHash.of computes it."""
    h = hashlib.sha256()
    if rows:
        order = sorted(range(len(names)), key=lambda i: names[i])
        h.update(("cols:" + ",".join(names[i] for i in order) + "\n").encode())
        lines = sorted("\x1f".join(_encode(r[i]) for i in order).encode() for r in rows)
        for line in lines:
            h.update(line + b"\n")
    return len(rows), h.hexdigest()


def expected_path(cache_dir, manifest, oracle_sql):
    """Where the oracle's answers for this corpus and SQL are cached."""
    sql_sha = hashlib.sha256(json.dumps(oracle_sql, sort_keys=True).encode()).hexdigest()
    return os.path.join(cache_dir, f"expected-{manifest['sha256'][:16]}-{sql_sha[:16]}.tsv")


def write_expected(path, cache_dir, corpus, oracle_sql, cpus):
    """Writes the TSV `op<TAB>rows<TAB>sha256` of the oracle's answers to
    `path`, atomically, unless it exists. DuckDB's threads run on `cpus`.
    """
    if os.path.exists(path):
        return
    before = os.sched_getaffinity(0)
    os.sched_setaffinity(0, cpus)  # the threads DuckDB starts inherit it
    try:
        con = duckdb.connect()
        con.execute(f"SET threads={max(1, min(4, len(cpus)))}")
        con.execute("SET memory_limit='2GB'")
        con.execute("SET preserve_insertion_order=false")
        con.execute("SET enable_progress_bar=false")
        con.execute(f"SET temp_directory='{os.path.join(cache_dir, 'duckdb-tmp')}'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(corpus, t + '.parquet')}/*.parquet')")
        lines = []
        for name in sorted(oracle_sql):
            cur = con.execute(oracle_sql[name])
            n, digest = result_hash([d[0] for d in cur.description], cur.fetchall())
            lines.append(f"{name}\t{n}\t{digest}\n")
        con.close()
    finally:
        os.sched_setaffinity(0, before)
    with open(path + ".tmp", "w") as f:
        f.writelines(lines)
    os.replace(path + ".tmp", path)
