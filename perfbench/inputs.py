"""Seeded benchmark inputs, and the DuckDB oracle for the reference-API
sweep.

Inputs are made in plain Python (and DuckDB) before any Spark session
exists, so the program under test receives only parquet files. Every input
set carries a digest (row count plus a content hash) that is printed with
every result: runs on different inputs, for instance after a change to
``sources/pages.py``, never compare silently.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# Base pages handed to the page generator. Each base page yields 1-5 pages
# (35% of them get near-duplicates), so 2,500 base pages are ~4,700 pages of
# ~50 tokens. Its 95% base is then above set_sim_join's tiny-join gate
# (4,096 rows), so blocking takes the hot-token probe, salting and pair
# packing path that larger crawls take.
PAGES_BASE = {"full": 2500, "smoke": 60}
# Share of pages (by a seeded hash of the url) that arrive as a crawl
# increment; the rest form the batch-linked base.
DELTA_PERCENT = 5

# sf0.1 ``part.p_name``: its 64 distinct two-word names and how often each
# occurs in its 20,000 rows. A seeded sample of these rows, with seeded keys
# and row order, is the sweep's table.
PART_NAMES = {
    "blue anvil": 291, "blue bolt": 306, "blue gear": 319, "blue gizmo": 328,
    "blue plate": 298, "blue ring": 318, "blue rod": 291, "blue widget": 284,
    "cold anvil": 315, "cold bolt": 317, "cold gear": 331, "cold gizmo": 299,
    "cold plate": 315, "cold ring": 301, "cold rod": 331, "cold widget": 306,
    "hot anvil": 303, "hot bolt": 302, "hot gear": 288, "hot gizmo": 319,
    "hot plate": 336, "hot ring": 338, "hot rod": 301, "hot widget": 330,
    "large anvil": 311, "large bolt": 296, "large gear": 331, "large gizmo": 324,
    "large plate": 278, "large ring": 291, "large rod": 294, "large widget": 314,
    "new anvil": 343, "new bolt": 311, "new gear": 330, "new gizmo": 305,
    "new plate": 283, "new ring": 300, "new rod": 294, "new widget": 311,
    "old anvil": 316, "old bolt": 287, "old gear": 321, "old gizmo": 299,
    "old plate": 330, "old ring": 322, "old rod": 306, "old widget": 331,
    "red anvil": 300, "red bolt": 347, "red gear": 325, "red gizmo": 313,
    "red plate": 324, "red ring": 305, "red rod": 337, "red widget": 321,
    "small anvil": 311, "small bolt": 318, "small gear": 295, "small gizmo": 320,
    "small plate": 333, "small ring": 323, "small rod": 326, "small widget": 307,
}
PART_ROWS = {"full": 10_000, "smoke": 400}

# The reference-API calls of one sweep. Two distinct names share at most
# one of their two tokens: Jaccard 1/3, cosine 1/2, and each name shares a
# token with 14 others. Thresholds on either side make some calls match
# exact duplicates only and some match across names; edit distance 1 adds
# old/cold pairs, 2 adds red/new pairs too.
SWEEP = (
    ("jaccard", 0.3),
    ("jaccard", 0.5),
    ("cosine", 0.45),
    ("cosine", 0.7),
    ("edit_distance", 1),
    ("edit_distance", 2),
)

# Order-independent row hash, computed identically by Spark and DuckDB
# (64-bit integer arithmetic that cannot overflow for keys below 10^6).
HASH_P = 4294967291
HASH_MUL = 1500000001
KEY_MUL = 1000003
SCORE_SCALE = 1_000_000


@dataclass
class Inputs:
    """Paths of one input set and what is known about it."""

    dir: Path
    digest: dict
    # part_sweep only: (measure, threshold) -> [rows, row hash, score sum]
    expected: dict = field(default_factory=dict)

    def path(self, name: str) -> str:
        return str(self.dir / name)


def _digest(rows) -> dict:
    h = hashlib.sha256()
    n = 0
    for r in rows:
        h.update(repr(r).encode())
        n += 1
    return {"rows": n, "sha256": h.hexdigest()[:16]}


# ------------------------------------------------------------------ pages
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("cluster_id", pa.int64()),
    ]
)


def _write_pages(rows: list, out: Path, n_files: int) -> None:
    """Write pages as ``n_files`` parquet files, the layout a ``local[N]``
    Spark write of the generator's output has."""
    out.mkdir()
    per = -(-len(rows) // n_files) if rows else 1
    for i in range(n_files):
        chunk = rows[i * per:(i + 1) * per]
        cols = list(zip(*chunk)) if chunk else [[] for _ in PAGES_SCHEMA]
        arrays = [
            pa.array([t * 1_000_000 for t in c], pa.int64()).cast(f.type)
            if f.name == "warc_ts" else pa.array(c, f.type)
            for c, f in zip(cols, PAGES_SCHEMA)
        ]
        pq.write_table(pa.Table.from_arrays(arrays, schema=PAGES_SCHEMA),
                       out / f"part-{i:05d}.parquet")


def _is_delta(seed: int, url: str) -> bool:
    h = hashlib.sha1(f"{seed}:{url}".encode()).digest()
    return int.from_bytes(h[:4], "big") % 100 < DELTA_PERCENT


def pages(out: Path, size: str, seed: int, n_files: int) -> Inputs:
    """The seeded page corpus with its ground-truth ``cluster_id``
    (``pages``), split by url into a base and a ~5% crawl increment
    (``base``, ``delta``).

    Made afresh on every run (a fraction of a second), so a change to the
    generator always reaches the input and its digest. The rows are those
    ``sources.pages.generate_pages(seed=seed)`` yields: its per-base-page
    row function is called directly, so that no Spark job runs before the
    timed pass."""
    from py_stringsimjoin_spark.sources.pages import _rows_for_base

    n_base = PAGES_BASE[size]
    rows = [r for b in range(n_base) for r in _rows_for_base(seed, b, 0.35)]
    delta = [r for r in rows if _is_delta(seed, r[0])]
    base = [r for r in rows if not _is_delta(seed, r[0])]
    out.mkdir(parents=True)
    _write_pages(rows, out / "pages", n_files)
    _write_pages(base, out / "base", n_files)
    _write_pages(delta, out / "delta", n_files)
    d = _digest(sorted(rows))
    d.update(base_rows=len(base), delta_rows=len(delta), base_pages=n_base, seed=seed)
    return Inputs(out, d)


# ------------------------------------------------------------------- part
def part(cache_root: Path, size: str, seed: int, work: Path) -> Inputs:
    """``part(p_partkey, p_name)``: a seeded sample of sf0.1's name
    multiset, seeded keys and row order, and the oracle's expected (rows,
    hash, score sum) for every call of ``SWEEP``.

    The oracle is the costly part, so the set is cached under a key that
    covers everything it is made from: size, seed, and this module's source
    (names, sweep and oracle)."""
    n = PART_ROWS[size]
    source = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:12]
    key = f"part-{size}-s{seed}-{source}"
    final = cache_root / key
    meta = final / "meta.json"
    if not meta.exists():
        # built aside and renamed, so a run never sees a half-written set
        tmp = cache_root / f".{key}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        rng = random.Random(seed)
        names = rng.sample([p for p, k in PART_NAMES.items() for _ in range(k)], n)
        keys = rng.sample(range(n), n)
        rows = list(zip(keys, names))
        table = pa.table({"p_partkey": pa.array(keys, pa.int64()),
                          "p_name": pa.array(names, pa.string())})
        pq.write_table(table, tmp / "part.parquet")
        d = _digest(rows)
        d.update(seed=seed, distinct_names=len(set(names)))
        expected = {json.dumps(list(c)): oracle(tmp / "part.parquet", *c, work)
                    for c in SWEEP}
        (tmp / "meta.json").write_text(json.dumps({"digest": d, "expected": expected},
                                                  sort_keys=True))
        try:
            tmp.rename(final)
        except OSError:  # another run finished the same set first
            shutil.rmtree(tmp, ignore_errors=True)
    m = json.loads(meta.read_text())
    expected = {tuple(json.loads(k)): v for k, v in m["expected"].items()}
    return Inputs(final, m["digest"], expected)


def _oracle_sql(part_path: Path, measure: str, threshold: float, select: str) -> str:
    """``<select> FROM hit JOIN part l JOIN part r``: every row pair of
    ``<measure>_join(part, part)``, with its ``score``.

    Scores are computed once per pair of distinct names and expanded to rows
    by equality joins: an algorithm independent of the engine's token joins,
    exact for any input."""
    ov = "len(list_intersect(a.toks, b.toks))"
    score = {
        "jaccard": f"{ov}::DOUBLE / (len(a.toks) + len(b.toks) - {ov})",
        "cosine": f"{ov}::DOUBLE / sqrt((len(a.toks) * len(b.toks))::DOUBLE)",
        "edit_distance": "levenshtein(a.p_name, b.p_name)::DOUBLE",
    }[measure]
    keep = "<=" if measure == "edit_distance" else ">="
    return f"""
    WITH part AS (SELECT * FROM read_parquet('{part_path}')),
    names AS (
      SELECT p_name, list_distinct(string_split(p_name, ' ')) AS toks
      FROM part GROUP BY p_name
    ),
    hit AS (
      SELECT a.p_name AS ln, b.p_name AS rn, {score} AS score
      FROM names a, names b WHERE {score} {keep} {threshold}
    )
    {select}
    FROM hit JOIN part l ON l.p_name = hit.ln JOIN part r ON r.p_name = hit.rn
    """


def _duckdb(sql: str, work: Path) -> list[int]:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{work / 'duckdb'}'")
        con.execute("SET memory_limit = '1GB'")
        return [int(v or 0) for v in con.execute(sql).fetchone()]
    finally:
        con.close()


def oracle(part_path: Path, measure: str, threshold: float, work: Path) -> list[int]:
    """Rows, order-independent row hash and score sum of
    ``<measure>_join(part, part)``, computed by DuckDB."""
    return _duckdb(_oracle_sql(part_path, measure, threshold, f"""
    SELECT count(*),
           sum((l.p_partkey * {KEY_MUL} + r.p_partkey) % {HASH_P} * {HASH_MUL} % {HASH_P}),
           sum(floor(score * {SCORE_SCALE})::BIGINT)"""), work)


def pair_f1(pairs_dir: Path, part_path: Path, measure: str, threshold: float,
            work: Path) -> float:
    """Pairwise F1 of join output pairs ``(l, r)`` against the oracle's pair
    set, for reporting how wrong a mismatching call was."""
    expected = _oracle_sql(part_path, measure, threshold,
                           "SELECT DISTINCT l.p_partkey AS l, r.p_partkey AS r")
    sql = f"""
    WITH got AS (SELECT l, r FROM read_parquet('{pairs_dir}/*.parquet')),
    want AS ({expected})
    SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
           (SELECT count(*) FROM (SELECT DISTINCT l, r FROM got) JOIN want USING (l, r))
    """
    n_got, n_want, tp = _duckdb(sql, work)
    return 2 * tp / (n_got + n_want) if n_got + n_want else 1.0
