"""Seeded input generators for the benchmark.

Nothing here is timed or counted in any metric. Each generator writes
into a cache directory named by (seed, size) and drops a marker file
when it is done, so a second run with the same seed and size reuses
the files and a run that died half way regenerates them.

* :func:`star_schema` writes the ten star-schema tables that the query
  registry reads. It follows the construction of
  ``tools/make_sf05.py`` and takes its constants from there (same row
  counts per scale factor, key domains, categorical values and
  vocabulary; Poisson(4) lines per order, 5% planted
  ``' dup'`` documents, label-centred unit embeddings) and the file
  layout of the shipped testdata (one pyarrow-written parquet file per
  table, naive microsecond timestamps). It draws from NumPy instead of
  running Spark jobs: the Spark generator costs 20-50 s per seed at
  sf0.01 on a 4-core host, which one benchmark run cannot afford.
* :func:`tweets_csv` writes a tweets-shaped CSV with the 31 columns of
  ``tests/tweets_fixture.COLUMNS`` and a planted share of rows whose
  ``tweet_time`` is corrupt by content, and records what the ETL
  output must hold.
"""

from __future__ import annotations

import csv
import importlib.util
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tests.tweets_fixture import COLUMNS, CORRUPT_TIMES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_make_sf05():
    """``tools/make_sf05.py`` by path (``tools/`` is not a package).
    Its row counts, key domains and vocabularies are shared here, so
    only the NumPy drawing below is separate from the Spark generator."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_make_sf05", os.path.join(ROOT, "tools", "make_sf05.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_SF = _load_make_sf05()
ROWS_PER_SF, USERS_PER_SF = _SF.ROWS_PER_SF, _SF.USERS_PER_SF
MKTSEGMENTS, PRIORITIES, STATUSES = _SF.MKTSEGMENTS, _SF.PRIORITIES, _SF.STATUSES
ADJECTIVES, NOUNS, PTYPES, REGIONS = _SF.ADJECTIVES, _SF.NOUNS, _SF.PTYPES, _SF.REGIONS
VOCAB, LANGS, ORDERDATE_DAYS = _SF.VOCAB, _SF.LANGS, _SF.ORDERDATE_DAYS
EMB_DIM, EMB_LABELS, EMB_ALPHA = _SF.EMB_DIM, _SF.EMB_LABELS, _SF.EMB_ALPHA
# Inline literals in make_sf05's events and documents generators.
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANG_WEIGHTS = [0.40, 0.15, 0.15, 0.15, 0.15]

_DONE = "_DONE"
ROW_GROUPS = 8
ROW_GROUP_MIN = 16_384


def _cached(out_dir: str, tag: str) -> dict | None:
    try:
        with open(os.path.join(out_dir, _DONE)) as fh:
            info = json.load(fh)
    except (OSError, ValueError):
        return None
    return info if info.get("tag") == tag else None


def _finish(out_dir: str, info: dict) -> dict:
    with open(os.path.join(out_dir, _DONE), "w") as fh:
        json.dump(info, fh)
    return info


def _fresh_dir(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)


def _pick(rng: np.random.Generator, options: list[str], n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _money(lo: float, width: float, rng: np.random.Generator, n: int) -> np.ndarray:
    return np.round(lo + width * rng.random(n), 2)


def _star_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n = {t: int(r * scale) for t, r in ROWS_PER_SF.items()}
    i32 = pa.int32()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    ids = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ids,
        "c_name": [f"Customer#{i:09d}" for i in ids],
        "c_nationkey": pa.array(rng.integers(0, 25, len(ids)), i32),
        "c_acctbal": _money(-1000.0, 11000.0, rng, len(ids)),
        "c_mktsegment": _pick(rng, MKTSEGMENTS, len(ids)),
    })
    ids = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": ids,
        "s_name": [f"Supplier#{i:09d}" for i in ids],
        "s_nationkey": pa.array(rng.integers(0, 25, len(ids)), i32),
        "s_acctbal": _money(-1000.0, 11000.0, rng, len(ids)),
    })
    ids = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": ids,
        "p_name": _pick(rng, ADJECTIVES, len(ids)) + " " + _pick(rng, NOUNS, len(ids)),
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, len(ids))],
        "p_type": _pick(rng, PTYPES, len(ids)),
        "p_size": pa.array(rng.integers(1, 51, len(ids)), i32),
        "p_retailprice": _money(900.0, 100.0, rng, len(ids)),
    })

    n_orders = n["orders"]
    epoch_1995_us = 788_918_400 * 1_000_000
    day_us = 86_400 * 1_000_000
    odate = epoch_1995_us + rng.integers(0, ORDERDATE_DAYS + 1, n_orders) * day_us
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_orders),
        "o_orderstatus": _pick(rng, STATUSES, n_orders),
        "o_totalprice": _money(1000.0, 499000.0, rng, n_orders),
        "o_orderdate": pa.array(odate, ts),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lines = rng.poisson(4.0, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    pos = np.arange(len(l_order)) - starts + 1
    n_lines = len(l_order)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n["part"], n_lines),
        "l_suppkey": rng.integers(0, n["supplier"], n_lines),
        "l_linenumber": pa.array((pos - 1) % 7 + 1, i32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(900.0, 104100.0, rng, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 96, n_lines) * day_us, ts
        ),
    })

    n_events = n["events"]
    start_us = 1_704_067_200 * 1_000_000  # 2024-01-01
    ev_ts = np.sort(start_us + rng.integers(0, 30 * day_us, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, max(1, int(USERS_PER_SF * scale)), n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.round(-50.0 * np.log1p(-rng.random(n_events)), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    n_docs = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), rng.integers(10, 101)))
        for _ in range(n_docs)
    ]
    # 5% of documents (never the first 20) copy an earlier original
    # document's text and append " dup": the planted near-duplicates.
    is_dup = (rng.random(n_docs) < 0.05) & (np.arange(n_docs) >= 20)
    for i in np.flatnonzero(is_dup):
        originals = np.flatnonzero(~is_dup[:i])
        texts[i] = texts[int(originals[rng.integers(0, len(originals))])] + " dup"
    doc_ids = np.arange(n_docs, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": doc_ids,
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[
            rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)
        ],
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = n["embeddings"]
    cents = rng.standard_normal((EMB_LABELS, EMB_DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n_emb)
    vecs = rng.standard_normal((n_emb, EMB_DIM)) + EMB_ALPHA * cents[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return out


def star_schema(cache: str, seed: int, scale: float) -> dict:
    """Write the ten tables for (seed, scale); return their row counts
    as ``{"dir": path, "rows": {table: n}}``."""
    tag = f"star seed={seed} scale={scale:g} v2"
    out_dir = os.path.join(cache, f"star-s{seed}-sf{scale:g}")
    info = _cached(out_dir, tag)
    if info is not None:
        return info
    _fresh_dir(out_dir)
    rows = {}
    for name, table in _star_tables(np.random.default_rng(seed), scale).items():
        # Several row groups per file, so Spark can split the larger
        # scans across cores (one row group per file yields one task).
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(ROW_GROUP_MIN, -(-table.num_rows // ROW_GROUPS)),
        )
        rows[name] = table.num_rows
    return _finish(out_dir, {"tag": tag, "dir": out_dir, "rows": rows})


def _tweet_rows(rng: np.random.Generator, n_rows: int, corrupt_share: float):
    """Yield CSV rows in COLUMNS order, plus the bookkeeping the output
    check needs: how many rows carry a corrupt tweet_time and which
    (year, month) partitions the valid rows fall in."""
    corrupt = rng.random(n_rows) < corrupt_share
    years = rng.integers(2014, 2018, n_rows)
    months = rng.integers(1, 13, n_rows)
    days = rng.integers(1, 29, n_rows)
    hours = rng.integers(0, 24, n_rows)
    minutes = rng.integers(0, 60, n_rows)
    bad_pick = rng.integers(0, len(CORRUPT_TIMES), n_rows)
    langs = ["en", "ru", "bg", "de", "es"]
    texts = [
        'Polls are "rigged", they said — vote!',
        "Выборы сегодня, приходите на участки",
        "check this out, really: https://t.co/x1",
        "plain tweet #election",
    ]
    counts = rng.integers(0, 100_000, (n_rows, 6))
    partitions: set[tuple[str, str]] = set()
    rows = []
    for i in range(n_rows):
        if corrupt[i]:
            tweet_time = CORRUPT_TIMES[bad_pick[i]]
        else:
            tweet_time = (
                f"{years[i]}-{months[i]:02d}-{days[i]:02d} "
                f"{hours[i]:02d}:{minutes[i]:02d}"
            )
            partitions.add((str(years[i]), f"{months[i]:02d}"))
        user = f"{counts[i, 0]:016x}" * 4
        c = counts[i]
        rows.append((
            str(700_000_000_000_000_000 + i), user, user[:20], user[:15],
            "Москва" if i % 3 == 0 else "",
            f"#news, politics commentary {i}",
            f"https://example.org/u/{i}" if i % 2 == 0 else "",
            str(c[1]), str(c[2]), "2013-05-01",
            langs[i % 2], langs[i % 5], texts[i % 4], tweet_time,
            "Twitter Web Client",
            str(600_000_000_000_000_000 + i) if i % 4 == 0 else "", "", "",
            "true" if i % 3 == 0 else "false", "", "",
            "55.75" if i % 5 == 0 else "", "37.61" if i % 5 == 0 else "",
            str(c[3] % 100), str(c[4] % 100), str(c[5]), str(c[0] % 1000),
            ["[election, news]", "[]", "", "[vote]"][i % 4],
            "[https://example.org/a, https://example.org/b]" if i % 2 == 0 else "[]",
            f"[{c[2]}, {c[3]}]" if i % 3 == 0 else "", "",
        ))
    return rows, int(corrupt.sum()), partitions


def tweets_csv(cache: str, seed: int, n_rows: int, corrupt_share: float = 0.03) -> dict:
    """Write tweets.csv + tweets.schema for (seed, n_rows); return the
    paths, sizes and what the ETL output must contain."""
    tag = f"tweets seed={seed} rows={n_rows} corrupt={corrupt_share:g} v1"
    out_dir = os.path.join(cache, f"tweets-s{seed}-n{n_rows}")
    info = _cached(out_dir, tag)
    if info is not None:
        return info
    _fresh_dir(out_dir)
    rows, n_corrupt, partitions = _tweet_rows(
        np.random.default_rng(seed), n_rows, corrupt_share
    )
    csv_path = os.path.join(out_dir, "tweets.csv")
    with open(csv_path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_ALL, doublequote=True)
        w.writerow([name for name, _ in COLUMNS])
        w.writerows(rows)
    schema_path = os.path.join(out_dir, "tweets.schema")
    with open(schema_path, "w", encoding="utf-8") as fh:
        fh.writelines(f"{name}={typ}\n" for name, typ in COLUMNS)
    return _finish(out_dir, {
        "tag": tag,
        "csv": csv_path,
        "schema": schema_path,
        "rows": n_rows,
        "corrupt_rows": n_corrupt,
        "csv_bytes": os.path.getsize(csv_path),
        "partitions": sorted(partitions),
    })
