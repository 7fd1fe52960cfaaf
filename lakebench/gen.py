"""Seeded input generators for the lakehouse benchmark.

Every generator takes the seed as an argument and derives all of its
randomness from it, so the same seed writes byte-identical inputs.
The engine only ever sees the files these functions write.

- ``StockFeed``: the raw-zone CSV drops of the three country feeds
  (FIXTURES.md section 1), one file per country per trading day, with the
  edge cases the reference ingest produces.
- ``write_tables``: the TPC-H-style tables plus ``events``,
  ``documents`` and ``embeddings`` that registry queries read.
- ``event_chunks``: fixed-size event files for the streaming source.
- ``dashboard_sql``: dashboard statements over the curated star.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Raw-zone stock feeds
# ---------------------------------------------------------------------------

VN_HEADER = (
    "symbol,trading_date,datadate,company_name,industry,website,no_employees,"
    "ref_price,prior_close_price,ceiling,floor,foreign_percent,delta_in_week,"
    "delta_in_month,delta_in_year,average_match_volume2_week,"
    "outstanding_share,issue_share,exchange_overview,exchange_price,"
    "trading_status,trading_status_code,trading_status_group"
)
US_HEADER = (
    "symbol,company_name,sector,industry,website,business_summary,"
    "full_time_employees,market_cap,country,city,phone,previous_close,"
    "current_price,currency,datadate"
)
JP_HEADER = (
    "ticker,company_name,company_name_jp,sector,industry,website,"
    "business_summary,employees,market_cap,exchange,method,previous_close,"
    "current_price,currency,datadate"
)

# Reference daily volumes (FIXTURES.md section 1: 6,751 US and 4,413 JP
# records per file; the VN board lists about 1,600 symbols).
REFERENCE_ROWS = {"VN": 1600, "US": 6751, "JP": 4413}

SECTORS = (
    "Banking", "Retail", "Insurance", "Software", "Semiconductors",
    "Utilities", "Energy", "Materials", "Industrials", "Healthcare",
    "Real Estate", "Telecom",
)
VN_EXCHANGES = ("HOSE", "HNX", "UPCOM")
JP_EXCHANGES = ("TSE", "NSE", "FSE")
STATUSES = (
    ("Active", "ACT", "NORMAL"),
    ("Warning", "WRN", "WATCH"),
    ("Halted", "HLT", "SUSPENDED"),
)
# Share of symbols per country that change one company attribute on
# each trading day (drives SCD2 version churn and G3 boundary fan-out).
CHURN_SHARE = 0.01
FIRST_DAY = dt.date(2025, 1, 2)


def trading_day(index: int) -> dt.date:
    """The ``index``-th weekday (from 0) on or after ``FIRST_DAY``."""
    d, seen = FIRST_DAY, -1
    while True:
        if d.weekday() < 5:
            seen += 1
            if seen == index:
                return d
        d += dt.timedelta(days=1)


def _csv_field(v) -> str:
    if v is None:
        return ""
    s = str(v)
    if any(ch in s for ch in ',"\n'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _thousands(x: float) -> str:
    return f"{x:,.0f}"


@dataclass
class DayFile:
    country: str
    path: str
    batch_date: str
    valid_rows: int
    raw_bytes: int


class StockFeed:
    """A seeded universe of listed companies and their daily price board.

    Company attributes are fixed per symbol except for the churned
    share, which changes one attribute per day. Prices follow a seeded
    random walk. ``rows`` scales the per-country daily volume.
    """

    def __init__(self, seed: int, rows: dict[str, int] | None = None):
        self.seed = seed
        self.rows = dict(rows or REFERENCE_ROWS)
        rng = np.random.default_rng([seed, 1])
        self.companies = {c: self._universe(rng, c, n) for c, n in self.rows.items()}

    @staticmethod
    def _universe(rng: np.random.Generator, country: str, n: int) -> dict:
        if country == "JP":
            symbols = [str(s) for s in rng.choice(np.arange(1300, 9999), n, replace=False)]
        else:
            letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
            seen: set[str] = set()
            symbols = []
            while len(symbols) < n:
                s = "".join(rng.choice(letters, int(rng.integers(2, 5))))
                if s not in seen:
                    seen.add(s)
                    symbols.append(s)
        return {
            "symbol": symbols,
            "name_id": rng.integers(0, 10**6, n),
            "sector": rng.integers(0, len(SECTORS), n),
            "industry": rng.integers(0, 40, n),
            "employees": rng.integers(10, 200_000, n),
            "price": rng.uniform(5, 500, n),
            "shares_m": np.round(rng.uniform(1, 5000, n), 2),
            "exchange": rng.integers(0, 3, n),
            "status": rng.choice(3, n, p=[0.9, 0.07, 0.03]),
            # fixed per symbol so a placeholder never flips SCD2 versions
            "emp_not_found": rng.random(n) < 0.02,
        }

    def _day_state(self, country: str, day_index: int) -> dict:
        """Attributes and prices of every symbol on trading day ``day_index``."""
        base = self.companies[country]
        n = len(base["symbol"])
        industry = base["industry"].copy()
        employees = base["employees"].copy()
        for d in range(1, day_index + 1):
            rng = np.random.default_rng([self.seed, 2, zlib.crc32(country.encode()), d])
            churn = rng.choice(n, max(1, int(n * CHURN_SHARE)), replace=False)
            half = len(churn) // 2
            industry[churn[:half]] = (industry[churn[:half]] + 1) % 40
            employees[churn[half:]] += rng.integers(1, 500, len(churn) - half)
        rng = np.random.default_rng([self.seed, 3, zlib.crc32(country.encode()), day_index])
        prev = base["price"] * np.exp(0.02 * rng.standard_normal(n) * np.sqrt(day_index + 1))
        cur = prev * (1 + 0.03 * rng.standard_normal(n))
        return {"industry": industry, "employees": employees, "prev": prev,
                "cur": cur, "rng": rng}

    def write_day(self, out_dir: str, day_index: int) -> list[DayFile]:
        """Write the three country CSVs of one trading day into ``out_dir``."""
        day = trading_day(day_index).isoformat()
        os.makedirs(out_dir, exist_ok=True)
        files = []
        for country in ("VN", "US", "JP"):
            lines, valid = (self._vn(day_index, day) if country == "VN"
                            else self._intl(country, day_index, day))
            path = os.path.join(out_dir, f"{country.lower()}_{day}.csv")
            # utf-8-sig: the reference ingest writes a BOM (vnstock.py:49)
            with open(path, "w", encoding="utf-8-sig", newline="") as f:
                f.write("\n".join(lines) + "\n")
            files.append(DayFile(country, path, day, valid, os.path.getsize(path)))
        return files

    def _common(self, country: str, i: int, st: dict):
        c = self.companies[country]
        sector = SECTORS[c["sector"][i]]
        industry = f"{sector} {st['industry'][i]}"
        emp = "Not found" if c["emp_not_found"][i] else str(st["employees"][i])
        name = f"{c['symbol'][i]} Holdings, \"{c['name_id'][i]}\""
        site = f"https://{c['symbol'][i].lower()}.example"
        return sector, industry, emp, name, site

    @staticmethod
    def _edge_rows(header_cols: int, symbol_col: int, day: str,
                   date_col: int | None) -> list[str]:
        """Rows the stg jobs must drop: null and whitespace-only symbols."""
        rows = []
        for sym in ("", "   "):
            cells = ["1"] * header_cols
            cells[symbol_col] = sym
            if date_col is not None:
                cells[date_col] = day
            rows.append(",".join(cells))
        return rows

    def _vn(self, day_index: int, day: str) -> tuple[list[str], int]:
        c, st = self.companies["VN"], self._day_state("VN", day_index)
        rng = st["rng"]
        lines = [VN_HEADER]
        n = len(c["symbol"])
        zero_prev = rng.random(n) < 0.01
        both_null = rng.random(n) < 0.005
        straddle = rng.choice(3, n, p=[0.9, 0.05, 0.05])  # 1 at ceiling, 2 at floor
        for i in range(n):
            sector, industry, emp, name, _ = self._common("VN", i, st)
            ref = round(float(st["cur"][i]) * 1000, -1)
            prior = 0.0 if zero_prev[i] else round(float(st["prev"][i]) * 1000, -1)
            ceiling = round(prior * 1.07 if prior else ref * 1.07, -1)
            floor = round(prior * 0.93 if prior else ref * 0.93, -1)
            if straddle[i] == 1:
                ceiling = ref
            elif straddle[i] == 2:
                floor = ref
            ref_s = "" if both_null[i] else _thousands(ref)
            prior_s = "" if both_null[i] else _thousands(prior)
            ex = VN_EXCHANGES[c["exchange"][i]]
            # either merge column may carry the exchange (vnstock.py:116-130)
            ex_over, ex_price = (ex, "") if i % 2 else ("", ex)
            status = STATUSES[c["status"][i]]
            sym = c["symbol"][i]
            if i % 97 == 0:
                sym = f" {sym.lower()} "  # normalized by norm_sym
            emp_vn = emp if emp == "Not found" else f"{int(emp):,} people"
            cells = [
                sym, day, "", name, industry, f"https://{c['symbol'][i].lower()}.vn",
                emp_vn, f"{ref_s} VND" if ref_s else "", prior_s,
                _thousands(ceiling), _thousands(floor),
                "Not found" if i % 53 == 0 else f"{rng.uniform(0, 49):.2f}",
                f"{rng.normal(0, 3):.2f}", f"{rng.normal(0, 6):.2f}",
                f"{rng.normal(0, 20):.2f}", _thousands(rng.integers(100, 10**6)),
                f"{c['shares_m'][i]:.2f}", _thousands(c["shares_m"][i] * 10**6),
                ex_over, ex_price, *status,
            ]
            lines.append(",".join(_csv_field(v) for v in cells))
        lines += self._edge_rows(len(VN_HEADER.split(",")), 0, day, None)
        return lines, n

    def _intl(self, country: str, day_index: int, day: str) -> tuple[list[str], int]:
        c, st = self.companies[country], self._day_state(country, day_index)
        rng = st["rng"]
        n = len(c["symbol"])
        header = US_HEADER if country == "US" else JP_HEADER
        lines = [header]
        zero_prev = rng.random(n) < 0.01
        for i in range(n):
            sector, industry, emp, name, site = self._common(country, i, st)
            summary = (
                f"{name} operates in {sector.lower()}.\n"
                f"Founded {1900 + int(c['name_id'][i]) % 120}, it serves \"core\" markets, "
                "worldwide."
            )
            prev = 0.0 if zero_prev[i] else float(st["prev"][i])
            cur = float(st["cur"][i])
            mcap = "Not found" if i % 61 == 0 else _thousands(cur * c["shares_m"][i] * 10**6)
            emp_s = emp if emp == "Not found" else _thousands(int(emp))
            if country == "US":
                cells = [
                    c["symbol"][i], name, sector, industry, site, summary, emp_s, mcap,
                    "United States", "New York", "555-0100", f"{prev:.2f}",
                    f"{cur:.2f}", "USD", day,
                ]
            else:
                cells = [
                    c["symbol"][i], name, f"カブシキガイシャ{c['symbol'][i]}", sector,
                    industry, site, summary, emp_s, mcap,
                    JP_EXCHANGES[c["exchange"][i]], "scrape", f"{prev * 100:.1f}",
                    f"{cur * 100:.1f}", "JPY", day,
                ]
            lines.append(",".join(_csv_field(v) for v in cells))
        date_col = len(header.split(",")) - 1
        lines += self._edge_rows(len(header.split(",")), 0, day, date_col)
        return lines, n


# ---------------------------------------------------------------------------
# Registry tables (TPC-H style, events, documents, embeddings)
# ---------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "hot", "green", "large", "cold", "tiny")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "spring", "valve", "nut")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "fr", "de", "es", "zh")
LANG_WEIGHTS = (0.5, 0.13, 0.14, 0.13, 0.1)
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "fr": ("le", "la", "et", "de", "un", "est", "les"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "es": ("el", "la", "y", "de", "que", "es", "los"),
    "zh": ("de", "le", "shi", "bu", "wo", "zai"),
}
TOPIC_WORDS = (
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "value", "vector", "window",
)
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int,
                 n_events: int) -> dict[str, int]:
    """Write the registry's ten tables into ``out_dir``; returns row counts.

    Cardinalities follow TPC-H at scale factor ``sf`` (lineitem is
    6,000,000 x sf rows); value domains match the reference test data
    so every registry query has non-empty results.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 10])
    n_cust, n_supp = max(int(150_000 * sf), 50), max(int(10_000 * sf), 20)
    n_part, n_ord = max(int(200_000 * sf), 100), max(int(1_500_000 * sf), 500)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }))
    adj, noun = rng.integers(0, len(PART_ADJ), n_part), rng.integers(0, len(PART_NOUN), n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }))
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }))
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per_order)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    flags = rng.integers(0, 6, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li)),
    }))
    _write(out_dir, "events", events_table(seed, n_events))
    _write(out_dir, "documents", documents_table(seed, n_docs))
    _write(out_dir, "embeddings", embeddings_table(seed, n_vecs))
    return {"lineitem": n_li, "orders": n_ord, "documents": n_docs,
            "embeddings": n_vecs, "events": n_events}


def events_table(seed: int, n: int, span_days: int = 30) -> pa.Table:
    """Click-stream events in event-time order over ``span_days`` days."""
    rng = np.random.default_rng([seed, 20])
    offsets = np.sort(rng.integers(0, span_days * 86_400 * 10**6, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490, n), 2),
        "props": [f'{{"k": {v}}}' for v in k],
    })


def documents_table(seed: int, n: int) -> pa.Table:
    """Documents in five languages; about a tenth are near- or exact
    copies of earlier documents (under another source for exact copies),
    and a few carry e-mail addresses or phone numbers."""
    rng = np.random.default_rng([seed, 30])
    langs = rng.choice(len(LANGS), n, p=LANG_WEIGHTS)
    sources = rng.integers(0, 20, n)
    texts: list[str] = []
    for i in range(n):
        lang = LANGS[langs[i]]
        r = rng.random()
        if i > 20 and r < 0.04:
            j = int(rng.integers(0, i))
            texts.append(texts[j])  # exact copy
            langs[i] = langs[j]
            continue
        if i > 20 and r < 0.10:
            j = int(rng.integers(0, i))
            words = texts[j].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = TOPIC_WORDS[int(rng.integers(0, 28))]
            texts.append(" ".join(words))  # near copy
            langs[i] = langs[j]
            continue
        vocab = TOPIC_WORDS + STOPWORDS[lang] * 2
        words = [vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(15, 90)))]
        if r > 0.97:
            words.insert(int(rng.integers(0, len(words))), f"user{i}@mail.example.com")
        elif r > 0.95:
            words.insert(int(rng.integers(0, len(words))), f"555-{i % 1000:03d}-{i % 9000 + 1000}")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[langs],
        "source": [f"src{s}" for s in sources],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Unit-norm 64-dimensional float32 vectors clustered around ten centres."""
    rng = np.random.default_rng([seed, 40])
    centres = rng.standard_normal((10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + 0.8 * rng.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def event_chunks(seed: int, n_files: int, rows_per_file: int,
                 span_days: int) -> list[pa.Table]:
    """Consecutive, event-time-ordered slices of one seeded events table."""
    ev = events_table(seed, n_files * rows_per_file, span_days=span_days)
    return [ev.slice(i * rows_per_file, rows_per_file) for i in range(n_files)]


# ---------------------------------------------------------------------------
# Dashboard statements over the curated star (Superset-style charts)
# ---------------------------------------------------------------------------


def dashboard_sql(as_of: str) -> dict[str, str]:
    """Chart queries in SQL both Spark and DuckDB run unchanged.

    Money sums stay DECIMAL, and large amounts are rounded to whole
    units before the cast: the two engines round a large DOUBLE cast to
    a fractional DECIMAL, or a large DECIMAL cast to DOUBLE, differently.

    Each reads the star's parquet tables through the views ``fact``,
    ``company``, ``exchange``, ``currency`` and ``ddate``. ``as_of`` is
    an ISO date inside the ingested range.
    """
    return {
        "dash_top_movers": f"""
            SELECT date, symbol, country, pct_change FROM (
                SELECT d.date, f.symbol, f.country, f.pct_change,
                       ROW_NUMBER() OVER (PARTITION BY d.date
                           ORDER BY f.pct_change DESC, f.symbol, f.country) AS rk
                FROM fact f JOIN ddate d ON f.date_sk = d.date_sk
                WHERE f.pct_change IS NOT NULL) ranked
            WHERE rk <= 20""",
        "dash_market_cap": """
            SELECT f.date_sk, f.country, c.sector,
                   SUM(CAST(ROUND(f.market_cap) AS DECIMAL(28,0))) AS market_cap_local,
                   MAX(cur.fx_rate_vnd) AS fx_rate_vnd,
                   COUNT(*) AS n
            FROM fact f
            JOIN company c ON f.company_sk = c.company_sk
            JOIN currency cur ON f.currency_sk = cur.currency_sk
            WHERE f.market_cap IS NOT NULL
            GROUP BY f.date_sk, f.country, c.sector""",
        "dash_limit_up": """
            SELECT f.date_sk, e.exchange_code,
                   SUM(CASE WHEN f.is_limit_up THEN 1 ELSE 0 END) AS n_up,
                   SUM(CASE WHEN f.is_limit_down THEN 1 ELSE 0 END) AS n_down
            FROM fact f JOIN exchange e ON f.exchange_sk = e.exchange_sk
            GROUP BY f.date_sk, e.exchange_code""",
        "dash_company_asof": f"""
            SELECT symbol, country, company_name, sector, industry, employees,
                   effective_from, version
            FROM company
            WHERE effective_from <= DATE '{as_of}' AND effective_to >= DATE '{as_of}'
              AND country = 'VN'""",
        "dash_country_daily": """
            SELECT d.date, f.country, COUNT(*) AS n,
                   SUM(CAST(f.current_price AS DECIMAL(28,6))) AS sum_price,
                   COUNT(f.current_price) AS n_priced,
                   SUM(CASE WHEN f.pct_change > 0 THEN 1 ELSE 0 END) AS n_gainers
            FROM fact f JOIN ddate d ON f.date_sk = d.date_sk
            GROUP BY d.date, f.country""",
    }


STAR_VIEWS = {
    "fact": "fact_stock_daily",
    "company": "dim_company",
    "exchange": "dim_exchange",
    "currency": "dim_currency",
    "ddate": "dim_date",
}
