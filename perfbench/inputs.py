"""Seeded workload inputs.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, different seeds give disjoint ones. The crawl
universe reuses ``sources.synthetic``'s per-index generators at a doc-index
offset chosen by the seed (the module's own ``SEED`` is left alone), so a
seed selects a different window of the same synthetic registry. Inputs are
built on the driver and written to parquet during set-up, so no lazy
generator re-runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from npm_search_spark.sources import synthetic as SYN

# seeds select disjoint doc-index windows; wide enough for any size used here
SEED_STRIDE = 10_000_000


def _h(*parts) -> int:
    return int.from_bytes(
        hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8).digest(), "big"
    )


def digest(obj) -> str:
    """Stable content digest of JSON-serialisable input rows."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


# ---------------------------------------------------------------------------
# crawl universe + change feed
# ---------------------------------------------------------------------------


def doc_offset(seed: int) -> int:
    return seed * SEED_STRIDE


def universe_rows(seed: int, n: int) -> dict[str, list[tuple]]:
    """Rows of every table ``Crawl`` reads, for docs ``offset .. offset+n``."""
    off = doc_offset(seed)
    out: dict[str, list[tuple]] = {
        "raw_docs": [], "documents": [], "jsdelivr_hits": [], "npm_downloads": [],
        "definitely_typed": [], "repo_changelogs": [],
    }
    for i in range(off, off + n):
        p = SYN.pkg_props(i)
        name = p["name"]
        out["raw_docs"].append(SYN.make_raw_doc(i))
        out["documents"].append((name, SYN.make_spans(i)))
        out["jsdelivr_hits"].append((name, p["jsdelivr_hits"]))
        out["npm_downloads"].append((name, p["downloads"]))
        if p["definitely_typed"]:
            out["definitely_typed"].append((name, name.lstrip("@").replace("/", "__")))
        if p["repo_changelog_rank"] is not None and p["host"]:
            out["repo_changelogs"].append((name, SYN.FILE_OPTIONS[p["repo_changelog_rank"]]))
    return out


_STR = pa.string()
UNIVERSE_SCHEMAS = {
    "raw_docs": pa.schema([("doc_id", _STR), ("raw_json", _STR)]),
    "documents": pa.schema([("doc_id", _STR), ("spans", pa.list_(pa.struct(
        [("kind", _STR), ("text", _STR), ("media_ref", _STR), ("offset", pa.int32())])))]),
    "jsdelivr_hits": pa.schema([("name", _STR), ("hits", pa.int64())]),
    "npm_downloads": pa.schema([("name", _STR), ("downloads_last_30d", pa.int64())]),
    "definitely_typed": pa.schema([("name", _STR), ("types_name", _STR)]),
    "repo_changelogs": pa.schema([("name", _STR), ("filename", _STR)]),
}


def write_parquet(rows: list, schema: pa.Schema, path: str) -> None:
    """One parquet file under directory ``path``, written without Spark so
    set-up starts no Spark job."""
    os.makedirs(path)
    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema.names]
    pq.write_table(pa.Table.from_arrays(cols, schema=schema),
                   os.path.join(path, "part-0.parquet"))


def materialize_universe(spark, rows: dict[str, list[tuple]], root: str) -> dict:
    """Write each table to parquet under ``root`` and return the read-back
    DataFrames (plus the engine's static robots table)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    out = {}
    for name, schema in UNIVERSE_SCHEMAS.items():
        path = os.path.join(root, name)
        write_parquet(rows[name], schema, path)
        # an explicit schema, so reading back infers nothing (no Spark job)
        out[name] = spark.read.schema(from_arrow_schema(schema)).parquet(path)
    out["robots"] = SYN.robots(spark)
    return out


def change_file(seed: int, n_docs: int, n: int) -> list[tuple]:
    """One change file of ``n`` (seq, id, deleted, rev) rows over the
    seed's first ``n_docs`` packages. ~5% deletes, and the last change is
    always one, so every file exercises the delete path; every fifth
    change repeats an id already in the file, so last-wins dedup has work."""
    off = doc_offset(seed)
    rows: list[tuple] = []
    for k in range(n):
        h = _h("change", seed, k)
        if k % 5 == 4:
            ident = rows[h % len(rows)][1]
        else:
            ident = SYN.pkg_name(off + h % n_docs)
        rows.append((1_000_001 + k, ident, h % 20 == 0 or k == n - 1, f"{h % 90 + 1}-{h:016x}"))
    return rows


CORPUS_ARROW = pa.schema([("doc_id", pa.string()), ("text", pa.string())])
CHANGES_ARROW = pa.schema(
    [("seq", pa.int64(), False), ("id", pa.string(), False),
     ("deleted", pa.bool_()), ("rev", pa.string())]
)


def land_change_file(rows: list[tuple], changes_dir: str, name: str) -> None:
    """Atomically land one change file: write under a hidden name (the
    file source skips dot-files), then rename into place."""
    table = pa.Table.from_arrays([list(c) for c in zip(*rows)], schema=CHANGES_ARROW)
    tmp = os.path.join(changes_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(changes_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# dedup corpus
# ---------------------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "qu", "bra", "ent",
    "ion", "ter", "dal", "mor", "pin", "cas", "lev", "nor", "the", "and", "of",
]


def _word(j: int) -> str:
    h = _h("word", j)
    return "".join(_SYLLABLES[(h >> (5 * k)) % len(_SYLLABLES)] for k in range(2 + h % 3))


def corpus_rows(seed: int, n_docs: int, vocab: int = 4000) -> tuple[list[tuple], dict]:
    """Synthetic text corpus with planted duplicates.

    Base documents draw 100-220 words from a Zipf-like vocabulary with a
    per-seed word order. Every 20th document is followed by an exact copy
    (differing only in case and spacing, which the engine normalises
    away), and every 20th (offset 10) by a near-duplicate with one word
    replaced, whose word-3-gram Jaccard to its source is about 0.94 or more.
    The corpus holds at least ``n_docs`` documents (one more when the last
    base document gets a twin).

    Returns (rows, planted) where planted holds the exact groups and the
    near-duplicate pairs the dedup ops must recover."""
    words = [_word(j) for j in range(vocab)]
    rows: list[tuple] = []
    exact: list[list[str]] = []
    near: list[tuple[str, str]] = []
    i = 0
    while len(rows) < n_docs:
        h = _h("doc", seed, i)
        length = 100 + h % 121
        toks = []
        for k in range(length):
            u = _h("tok", seed, i, k) / 2**64
            toks.append(words[int(vocab * u ** 2)])
        doc_id = f"d{seed}-{i:07d}"
        text = " ".join(toks)
        rows.append((doc_id, text))
        if i % 20 == 0:
            twin = f"{doc_id}-x"
            rows.append((twin, "  ".join(toks).upper()))
            exact.append(sorted([doc_id, twin]))
        elif i % 20 == 10:
            twin = f"{doc_id}-n"
            mutated = list(toks)
            mutated[length // 2] = f"planted{seed}x{i}"
            rows.append((twin, " ".join(mutated)))
            near.append((doc_id, twin))
        i += 1
    return rows, {"exact": exact, "near": near}
