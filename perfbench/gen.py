"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` and the size arguments:
the same seed writes byte-identical files. Nothing imports Spark; the
program under test only ever sees the files written here.

Two families of inputs:

- :func:`raw_zone` writes the paper's dated raw zone for the current
  (2025-08-19) era: ETF holdings, an ``ohlc`` close table, per-day JSON
  option chains, per-day HTML volatility pages and per-day OCC weeklies
  CSV files. Every chain has 30 expirations x 40 strikes: the era's
  multipliers x the symbol's mark plus decoy strikes, and the era's week
  offsets plus decoy expiries, so the selected rows per symbol-day are
  exactly ``len(week_offsets) * len(strike_multipliers) * 2``.
- :func:`query_tables` writes the ten tables the query registry reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  with the schemas ``sources.registry`` expects.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from oic_options_chains_spark.parse.eras import ERAS, REQUIRED_MARKER, era_for_date
from tests.fixtures.html_vol import build_page

ETFS = ("SPY", "MDY", "SLY", "SPSM")
ERA = next(e for e in ERAS if e.name == "2025-08-19")
_DAILY_START = dt.date(2025, 8, 19)
# a chain's full grid, decoys included (a listed equity's typical chain)
N_EXPIRIES, N_STRIKES = 30, 40

# A page that carries the legacy required marker (so the bad-page filter
# lets it through) but has no table grid: the parse kernels raise on it
# and it lands in the quarantine channel.
BROKEN_PAGE = (
    f"<html><body><p>{REQUIRED_MARKER} the market.</p>"
    "<table><tr><td>truncated</td></tr></table></body></html>"
)


@dataclass
class Day:
    date: dt.date
    chain_rows: int  # expected option_chain rows after selection
    vol_rows: int  # expected volatility_history rows
    bad_vol_pages: int
    raw_option_rows: int  # strike x side rows offered to selection
    vol_bytes: int
    weeklies_csv: str = ""
    weekly_symbols: int = 0  # expected weekly table rows after this day


@dataclass
class RawZone:
    root: str
    chains_dir: str
    vol_dir: str
    holdings: str
    ohlc: str
    symbols: list[str]
    universe: list[str]
    days: list[Day] = field(default_factory=list)


def _trading_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _symbols(rng: random.Random, n: int) -> list[str]:
    reserved = set(ETFS) | {"OLDCO", "NOTIN", "BRKB", "RDSA"}
    out: set[str] = set()
    while len(out) < n:
        sym = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(rng.randint(2, 4)))
        if sym not in reserved:
            out.add(sym)
    return sorted(out)


def _q(x: Decimal) -> Decimal:
    return x.quantize(Decimal("0.001"))


def _strike_grid(mark: int) -> tuple[list[Decimal], list[Decimal]]:
    """(target strikes, decoy strikes). Targets equal mark x multiplier
    exactly; decoys sit strictly between neighbouring targets, so each
    target's nearest strike is itself (distance 0) and no decoy wins."""
    targets = sorted({_q(Decimal(m) * mark) for m in ERA.strike_multipliers})
    pairs = list(zip(targets[::2], targets[1::2]))
    decoys = [_q((lo + hi) / 2) for lo, hi in pairs[: N_STRIKES - len(targets)]]
    return targets, decoys


def _expiries(day: dt.date) -> tuple[list[dt.date], list[dt.date]]:
    targets = [day + dt.timedelta(weeks=w) for w in ERA.week_offsets]
    # decoys: 3 days off the weekly cycle, so >= 3 days from every target
    decoys = [day + dt.timedelta(days=7 * w + 3) for w in range(N_EXPIRIES - len(targets))]
    return targets, decoys


# per-side quote fields: (name, low, high, decimals, signed by side)
_QUOTE = (
    ("bid", 0.05, 20, 2, False), ("ask", 20.05, 40, 2, False), ("theoprice", 0.05, 40, 3, False),
    ("ivint", 5, 120, 2, False), ("delta", 0.01, 0.99, 5, True), ("gamma", 0.0001, 0.1, 5, False),
    ("theta", -0.5, -0.001, 5, False), ("vega", 0.001, 0.9, 5, False), ("rho", 0.001, 0.2, 5, True),
)


def _chain_json(sym: str, expiries: list[dt.date], strikes: list[Decimal], decoys: list[Decimal],
                rng: random.Random) -> tuple[str, int]:
    """One symbol's JSON chain: a two-sided row per (expiry, strike), one
    of them repeated verbatim (an exact tie) and ~5% extra single-sided
    rows at decoy strikes, shuffled. Returns (text, raw option rows)."""
    keys = [(e, s, True) for e in expiries for s in strikes]
    keys += [(e, s, False) for e in expiries for s in rng.sample(decoys, round(len(strikes) * 0.05))]
    nrs = np.random.RandomState(rng.getrandbits(32))
    day = {e: (e.isoformat(), f"{e:%y%m%d}") for e in expiries}
    at = {s: (repr(float(s)), f"{int(s * 1000):08d}") for s in strikes}
    cols = [[
        f'"expirationdate": "{day[e][0]}", "strike": {at[s][0]}, '
        f'"call_optionsymbol": "{sym}{day[e][1]}C{at[s][1]}", '
        + (f'"put_optionsymbol": "{sym}{day[e][1]}P{at[s][1]}"' if both else '"put_optionsymbol": null')
        for e, s, both in keys
    ]]
    for side, sign in (("call", 1.0), ("put", -1.0)):
        for name, lo, hi, nd, signed in _QUOTE:
            vals = np.round((sign if signed else 1.0) * nrs.uniform(lo, hi, len(keys)), nd).tolist()
            cols.append([f'"{side}_{name}": {v!r}' for v in vals])
    rows = ["{" + ", ".join(parts) + "}" for parts in zip(*cols)]
    rows.append(rows[rng.randrange(len(strikes) * len(expiries))])  # exact tie
    rng.shuffle(rows)
    raw = 2 * (len(expiries) * len(strikes) + 1) + (len(keys) - len(expiries) * len(strikes))
    return "[" + ", ".join(rows) + "]", raw


def _vol_page(rng: random.Random) -> str:
    def pct() -> str:
        return f"{rng.uniform(5, 90):.2f}%"

    def yearly() -> str:
        day = rng.randint(1, 28)
        mon = rng.choice(("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"))
        return f"{pct()} - {day:02d}-{mon}"

    def block(sentinel: bool) -> dict:
        return {
            "current": pct(),
            "week_ago": pct(),
            "month_ago": pct(),
            "year_high": yearly(),
            # sentinel cell: the reference's '0.00% - N/A' NULL marker
            "year_low": "0.00% - N/A" if sentinel else yearly(),
        }

    return build_page(ERA.name, hv=block(False), iv=block(rng.random() < 0.3))


def _write(path: str, text: str) -> int:
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def raw_zone(root: str, seed: int, n_days: int, n_symbols: int, n_bad_pages: int = 1) -> RawZone:
    """Write ``n_days`` consecutive ingest days x ``n_symbols`` symbols
    under ``root``.

    ``n_bad_pages`` vol pages per day are broken pages that go to
    quarantine; ~5% of strike rows are extra single-sided rows and each
    symbol-day repeats one strike row verbatim (an exact tie the PK
    dedup absorbs)."""
    rng = random.Random(seed)
    symbols = _symbols(rng, n_symbols)
    chains_dir = os.path.join(root, "chains")
    vol_dir = os.path.join(root, "vol")
    os.makedirs(chains_dir)
    os.makedirs(vol_dir)

    dates = _trading_days(_DAILY_START + dt.timedelta(days=seed % 7), n_days)
    for d in dates:
        assert era_for_date(d) is ERA, d

    # holdings: three snapshots; only the latest defines the universe
    snap_dates = [dates[0] - dt.timedelta(days=k) for k in (60, 30, 1)]
    holdings = []
    for k, sd in enumerate(snap_dates):
        latest = k == len(snap_dates) - 1
        members = symbols if latest else rng.sample(symbols, max(1, n_symbols // 2)) + ["OLDCO"]
        for sym in members:
            holdings.append({"etf_symbol": rng.choice(ETFS), "component_symbol": sym, "date": sd})
    # every ETF appears in the latest snapshot (it joins the universe)
    for etf in ETFS:
        holdings.append({"etf_symbol": etf, "component_symbol": symbols[0], "date": snap_dates[-1]})
    holdings.append({"etf_symbol": "XLK", "component_symbol": "NOTIN", "date": snap_dates[-1]})
    holdings_path = os.path.join(root, "holdings.parquet")
    pq.write_table(
        pa.Table.from_pylist(
            holdings,
            schema=pa.schema([("etf_symbol", pa.string()), ("component_symbol", pa.string()), ("date", pa.date32())]),
        ),
        holdings_path,
    )

    marks = {s: rng.randint(20, 400) for s in symbols}
    ohlc = []
    zone = RawZone(root, chains_dir, vol_dir, holdings_path, os.path.join(root, "ohlc.parquet"),
                   symbols, sorted(set(symbols) | set(ETFS)))
    weekly_seen: set[str] = set()
    for d in dates:
        cday = os.path.join(chains_dir, d.isoformat())
        vday = os.path.join(vol_dir, d.isoformat())
        os.makedirs(cday)
        os.makedirs(vday)
        exp_t, exp_d = _expiries(d)
        bad = set(rng.sample(symbols, n_bad_pages))
        chain_rows = raw_rows = vol_bytes = 0
        for sym in symbols:
            ohlc.append({"act_symbol": sym, "date": d - dt.timedelta(days=1), "close": Decimal(marks[sym])})
            targets, decoys = _strike_grid(marks[sym])
            strikes = sorted(targets + decoys)
            text, raw = _chain_json(sym, exp_t + exp_d, strikes, decoys, rng)
            raw_rows += raw
            _write(os.path.join(cday, f"{sym}.json"), text)
            chain_rows += len(exp_t) * len(targets) * 2
        for sym in symbols:
            page = BROKEN_PAGE if sym in bad else _vol_page(rng)
            vol_bytes += _write(os.path.join(vday, f"{sym}.html"), page)

        # OCC weeklies file: preamble, header, garbage, aliases, a dup
        listed = rng.sample(symbols, max(1, n_symbols // 3))
        lines = [f"Weekly options as of {d.isoformat()}", "act_symbol,name,effective_date,flags"]
        for sym in listed:
            eff = d - dt.timedelta(days=rng.randint(7, 900))
            lines.append(f"{sym} , {sym} Corp , {eff.isoformat()} , x")
        lines.append(f"{listed[0]} , dup , {(d - dt.timedelta(days=3)).isoformat()} , x")
        lines.append(f"BRKB , Berkshire , {(d - dt.timedelta(days=400)).isoformat()} , x")
        lines.append(f"RDSA , Shell , {(d - dt.timedelta(days=500)).isoformat()} , x")
        lines.append("garbage line without commas")
        csv = os.path.join(root, f"weeklyoptions.{d.isoformat()}.csv")
        _write(csv, "\n".join(lines) + "\n")
        weekly_seen |= set(listed) | {"BRK.B", "RDS.A"}

        zone.days.append(
            Day(
                date=d, chain_rows=chain_rows,
                vol_rows=n_symbols - n_bad_pages, bad_vol_pages=n_bad_pages,
                raw_option_rows=raw_rows, vol_bytes=vol_bytes,
                weeklies_csv=csv, weekly_symbols=len(weekly_seen),
            )
        )

    # as-of marks: the close on the latest date <= ingest wins; an older
    # and a later close per symbol must both lose
    first, last = dates[0], dates[-1]
    for sym in symbols:
        ohlc.append({"act_symbol": sym, "date": first - dt.timedelta(days=30), "close": Decimal(marks[sym] - 3)})
        ohlc.append({"act_symbol": sym, "date": last + dt.timedelta(days=30), "close": Decimal(marks[sym] + 7)})
    pq.write_table(
        pa.Table.from_pylist(
            ohlc,
            schema=pa.schema([("act_symbol", pa.string()), ("date", pa.date32()), ("close", pa.decimal128(18, 3))]),
        ),
        zone.ohlc,
    )
    return zone


# ---------------------------------------------------------------------------
# query-registry tables
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_NATIONS = (
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window", "index",
)


def _pq_write(out: str, name: str, cols: dict, schema: pa.Schema) -> None:
    arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
    pq.write_table(pa.Table.from_arrays(arrays, schema=schema), os.path.join(out, f"{name}.parquet"))


def query_tables(out: str, seed: int, scale: float) -> dict[str, int]:
    """Write the registry's ten tables under ``out`` at ``scale`` (1.0 =
    150k orders / 600k lineitem). Returns rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(seed)
    n_cust, n_sup, n_part = int(15000 * scale), max(10, int(1000 * scale)), int(20000 * scale)
    n_ord, n_li, n_ev = int(150000 * scale), int(600000 * scale), int(100000 * scale)
    n_doc, n_emb = max(500, int(5000 * scale)), max(500, int(2000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _pq_write(out, "region", {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)},
              pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _pq_write(out, "nation", {"n_nationkey": list(range(25)), "n_name": [n for n, _ in _NATIONS],
                              "n_regionkey": [r for _, r in _NATIONS]},
              pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _pq_write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)]))
    _pq_write(out, "supplier", {
        "s_suppkey": np.arange(n_sup, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_sup)],
        "s_nationkey": rng.randint(0, 25, n_sup).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_sup), 2),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    _pq_write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {k % 97}" for k in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")[i] for i in rng.randint(0, 6, n_part)],
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900.0, 1000.0, n_part), 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
                  ("p_retailprice", f64)]))
    d0 = np.datetime64("1995-01-01")
    _pq_write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": (d0 + rng.randint(0, 2404, n_ord).astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.randint(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
                  ("o_orderdate", ts), ("o_orderpriority", s)]))
    _pq_write(out, "lineitem", {
        "l_orderkey": rng.randint(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.randint(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, n_sup, n_li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(901.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": (np.datetime64("1995-01-02") + rng.randint(0, 2498, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                  ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    gaps = rng.exponential(259.0 / max(scale * 10, 0.1), n_ev)
    _pq_write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": rng.randint(0, 150, n_ev).astype(np.int64),
        "event_type": [("click", "error", "purchase", "signup", "view")[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(rng.exponential(35.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
                  ("props", s)]))

    texts = [" ".join(_VOCAB[i] for i in rng.randint(0, len(_VOCAB), rng.randint(10, 100))) for _ in range(n_doc)]
    for _ in range(max(2, n_doc // 40)):  # planted near-duplicate pairs
        i, j = rng.choice(n_doc, 2, replace=False)
        toks = texts[i].split()
        for pos in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[pos] = _VOCAB[rng.randint(0, len(_VOCAB))]
        texts[j] = " ".join(toks)
    for _ in range(2):  # planted exact duplicates
        i, j = rng.choice(n_doc, 2, replace=False)
        texts[j] = texts[i]
    _pq_write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [("de", "en", "es", "fr", "zh")[i] for i in rng.choice(5, n_doc, p=(0.1, 0.6, 0.1, 0.1, 0.1))],
        "source": [f"src{i % 20}" for i in rng.permutation(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.randint(0, 10, n_emb)
    pts = 0.30 * centers[labels] + rng.normal(0, 1, (n_emb, 64))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    _pq_write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in pts],
        "label": labels.astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
    return {"orders": n_ord, "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb}
