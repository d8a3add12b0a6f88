"""Benchmark inputs: generated tables, season tracking and expected outputs.

Generation runs in a child process of ``run.py`` (``python3
perfbench/inputs.py <workload> <seed> <work_dir>``), so that input generation,
the DuckDB oracle and the driver-local reference kernels never count towards
the benchmark process's memory high-water mark or its timings. Results are
cached under the work directory, keyed on the sources they depend on; the
benchmark process finds them with ``cached_manifest``.

Two input families:

- ``orders``, ``lineitem`` and ``documents`` for ``dedup_graph``, with the
  schemas of the repository's driver test data, generated from a fixed
  generator seed at scale factor ``TREE_SF``. The workload seed only permutes
  query order, so the tree and its oracle digests are computed once per
  checkout.
- A synthetic season of ``SEASON_PLAYS`` plays for ``season_pipeline``, built
  from ``fixtures._synthetic_play_tracking``. The workload seed picks the
  play-id offset, a multiple of 420, so the play, game and player ids change
  with the seed while the geometry mix stays the same.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

TREE_SF = 0.01
# The play geometry cycles through p % 4/5/6/7, i.e. with period 420; play-id
# offsets are multiples of 420, so every seed gets the same geometry mix. 84
# plays keep a warm pass to a few seconds, so that a run measures more than
# one; most of a pass is fixed per-stage cost, not per-play work.
SEASON_PLAYS = 84
SEASON_OFFSETS = 4  # distinct play-id offsets the seed selects between

DEDUP_GRAPH_QUERIES = [
    "dedup_cluster_assign",
    "dedup_cluster_representative",
    "graph_label_propagation",
    "graph_kcore_peel",
]

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "de", "es", "fr", "zh"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# ---------------------------------------------------------------------------
# Canonical digest (the order-insensitive value hash of the correctness gate)
# ---------------------------------------------------------------------------


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v != v:
            return "NULL"  # pandas renders SQL NULL in float columns as NaN
        return repr(round(v, 9))
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def digest(pdf: pd.DataFrame) -> str:
    """Row count, sorted column names and an order-insensitive value hash:
    columns sorted by name, each row rendered canonically, rendered rows
    sorted, then hashed."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(_norm_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:20]}"


# ---------------------------------------------------------------------------
# Cache plumbing
# ---------------------------------------------------------------------------


def _source_key(*parts) -> str:
    """Hash of this file plus the given strings / repository files: a cached
    input or expected output is reused only while its sources are unchanged."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in parts:
        if isinstance(p, Path):
            files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
            for f in files:
                h.update(f.read_bytes())
        else:
            h.update(str(p).encode())
    return h.hexdigest()[:16]


def _store(dest: Path, key: str, build) -> None:
    """Run ``build(tmp_dir) -> manifest`` into a temporary sibling of
    ``dest``, stamp the manifest with ``key``, then swap it in."""
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.perf_counter()
    manifest = build(tmp)
    manifest["key"] = key
    manifest["build_s"] = round(time.perf_counter() - t0, 3)
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def _write(df: pd.DataFrame, path: Path) -> dict:
    t = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(t, path)
    return {"rows": t.num_rows, "bytes": path.stat().st_size}


# ---------------------------------------------------------------------------
# TPC-H-shaped tree (+ events, documents)
# ---------------------------------------------------------------------------


def _gen_tree(out: Path, sf: float) -> dict:
    """``orders``, ``lineitem`` and ``documents`` at scale factor ``sf``, with
    the driver test data's schemas: the customer-supplier trading graph comes
    from orders x lineitem, and about 4.5% of the documents are near
    duplicates (an earlier document plus one word)."""
    rng = np.random.default_rng(20240101)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_doc = int(200_000 * sf), int(1_500_000 * sf), int(50_000 * sf)
    ok = np.arange(n_ord, dtype=np.int64)
    lo = np.datetime64("1995-01-01", "D").astype(np.int64)
    hi = np.datetime64("2001-08-01", "D").astype(np.int64)
    odate = rng.integers(lo, hi, n_ord).astype("datetime64[D]").astype("datetime64[us]")
    orders = pd.DataFrame(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lines = 1 + rng.poisson(3.0, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(ok, lines),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": np.repeat(odate, lines)
            + rng.integers(1, 122, n_li).astype("timedelta64[D]"),
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.045:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 100)))))
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    tables = {"orders": orders, "lineitem": lineitem, "documents": documents}
    return {
        "tables": {name: _write(df, out / f"{name}.parquet") for name, df in tables.items()},
        "sf": sf,
    }


def _oracle_digests(tree: Path, names: list[str]) -> dict:
    """DuckDB oracle digest per query over the generated tree."""
    import duckdb

    from nfl_big_data_bowl_2024_spark.plans import all_queries

    specs = all_queries()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(tree.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    out = {}
    for name in names:
        t0 = time.perf_counter()
        out[name] = {
            "digest": digest(con.execute(specs[name].oracle).df()),
            "oracle_s": round(time.perf_counter() - t0, 3),
        }
    return out


def _tree_key() -> str:
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    specs = all_queries()
    return _source_key(TREE_SF, *(specs[n].oracle for n in DEDUP_GRAPH_QUERIES))


def _tree_dir(work: Path) -> Path:
    return work / f"tree-sf{TREE_SF}"


def prepare_tree(work: Path) -> None:
    def build(tmp: Path) -> dict:
        man = _gen_tree(tmp, TREE_SF)
        man["oracle"] = _oracle_digests(tmp, DEDUP_GRAPH_QUERIES)
        return man

    _store(_tree_dir(work), _tree_key(), build)


# ---------------------------------------------------------------------------
# Synthetic season
# ---------------------------------------------------------------------------


def season_offset(seed: int) -> int:
    return 420 * (seed % SEASON_OFFSETS)


def _season_frames(offset: int, n: int):
    from nfl_big_data_bowl_2024_spark import fixtures

    players, plays, tackles, rows = [], [], [], []
    for p in range(offset, offset + n):
        pl, play, tk = fixtures._synthetic_play_meta(p)
        players.extend(pl)
        plays.append(play)
        tackles.extend(tk)
        rows.extend(fixtures._synthetic_play_tracking(p))
    tracking = pd.DataFrame(rows, columns=fixtures.TRACKING_COLS)
    tracking["frameId"] = tracking["frameId"].astype(np.int32)
    return (
        tracking,
        pd.DataFrame(players, columns=["nflId", "displayName", "position"]),
        pd.DataFrame(plays, columns=["gameId", "playId", "ballCarrierId", "playDirection"]),
        pd.DataFrame(tackles, columns=["gameId", "playId", "nflId"]),
    )


def kernel_groups(season_dir: Path):
    """Per-play kernel input frames, the pandas twin of
    ``plans.domain._kernel_input``: carrier and tackler frames with the
    role flags, player dims and position limits as columns."""
    from nfl_big_data_bowl_2024_spark import schemas

    tracking = pd.read_parquet(season_dir / "tracking.parquet")
    players = pd.read_parquet(season_dir / "players.parquet")
    plays = pd.read_parquet(season_dir / "plays.parquet")
    tackles = pd.read_parquet(season_dir / "tackles.parquet")
    limits = pd.DataFrame(
        schemas.POSITION_LIMITS,
        columns=[f.name for f in schemas.POSITION_LIMITS_SCHEMA.fields],
    )
    m = tracking.merge(plays[["gameId", "playId", "ballCarrierId"]], on=["gameId", "playId"])
    m = m.merge(tackles.assign(is_tackler=True), on=["gameId", "playId", "nflId"], how="left")
    m["is_tackler"] = m["is_tackler"].notna()
    m = m[m["is_tackler"] | (m["nflId"] == m["ballCarrierId"])]
    m = m.merge(players, on="nflId", how="left").merge(limits, on="position", how="left")
    return [g.reset_index(drop=True) for _, g in m.groupby(["gameId", "playId"], sort=True)]


def _season_key(seed: int) -> str:
    pkg = ROOT / "nfl_big_data_bowl_2024_spark"
    return _source_key(
        SEASON_PLAYS, season_offset(seed),
        pkg / "kernels", pkg / "fixtures.py", pkg / "schemas.py",
    )


def _season_dir(work: Path, seed: int) -> Path:
    return work / f"season-{SEASON_PLAYS}-off{season_offset(seed)}"


def prepare_season(work: Path, seed: int) -> None:
    from nfl_big_data_bowl_2024_spark.kernels.yap import (
        max_params_play_kernel,
        yap_play_kernel,
    )

    offset = season_offset(seed)

    def build(tmp: Path) -> dict:
        tracking, players, plays, tackles = _season_frames(offset, SEASON_PLAYS)
        tables = {
            "tracking": _write(tracking, tmp / "tracking.parquet"),
            "players": _write(players, tmp / "players.parquet"),
            "plays": _write(plays, tmp / "plays.parquet"),
            "tackles": _write(tackles, tmp / "tackles.parquet"),
        }
        groups = kernel_groups(tmp)
        e1 = pd.concat([max_params_play_kernel(g) for g in groups], ignore_index=True)
        e2 = pd.concat([yap_play_kernel(g) for g in groups], ignore_index=True)
        e2.to_parquet(tmp / "e2_expected.parquet", index=False)
        return {
            "tables": tables,
            "plays": SEASON_PLAYS,
            "frames": int(tracking["frameId"].nunique()) * SEASON_PLAYS,
            "tracking_rows": len(tracking),
            "offset": offset,
            "expected": {"e1": digest(e1), "e2": digest(e2)},
        }

    _store(_season_dir(work, seed), _season_key(seed), build)


def cached_manifest(workload: str, seed: int, work: Path) -> dict | None:
    """The workload's manifest if its cached inputs are current, else None."""
    if workload == "season_pipeline":
        dest, key = _season_dir(work, seed), _season_key(seed)
    else:
        dest, key = _tree_dir(work), _tree_key()
    path = dest / "manifest.json"
    if not path.exists():
        return None
    man = json.loads(path.read_text())
    if man.get("key") != key:
        return None
    man["dir"] = str(dest)
    return man


def main(argv: list[str]) -> int:
    sys.path.insert(0, str(ROOT))
    workload, seed, work = argv[0], int(argv[1]), Path(argv[2])
    work.mkdir(parents=True, exist_ok=True)
    if workload == "season_pipeline":
        prepare_season(work, seed)
    else:
        prepare_tree(work)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
