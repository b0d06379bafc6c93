"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes its inputs under a
directory the caller owns; the same seed always gives the same bytes of
data (row values, row counts, file layout). Only numpy, pyarrow and the
standard library are used, so generation never touches the engine under
test.

* ``analytics_tables`` -- the ten tables the registry queries read
  (region ... embeddings), shaped like the engine's synthetic testdata:
  uniform TPC-H-ish star, a 30-day events stream, a corpus of 10-100 words
  drawn uniformly from 30, with 5% planted near-duplicates (a copy of
  another document plus " dup"), and unit-norm 64-d embeddings.
  ``fit.py`` prints the generated tables' statistics next to a reference
  testdata directory's.
* ``Season`` -- one FPL season (teams, ~700 players, 38 gameweeks of
  per-player history, understat match rows). ``write_star`` lays it out as
  the curated star schema the dashboard reads; ``write_landing`` lays out
  the raw landing zone (bootstrap JSON, one element-summary JSON per
  player, understat CSVs) as it stood after a given gameweek.
"""

from __future__ import annotations

import csv
import json
import os
import random
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- analytics tables ------------------------------------------------------

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.43, 0.15, 0.14, 0.14, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten analytics tables as ``<out_dir>/<name>.parquet``;
    return their row counts. Row counts scale with ``sf`` like the
    engine's testdata (sf0.01: 60k lineitem, 500 documents)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def rng_for(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    def put(name: str, cols: dict, schema: pa.Schema) -> None:
        _write(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    r = rng_for(1)
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)].tolist(),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    r = rng_for(2)
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    r = rng_for(3)
    keys = np.arange(n_part, dtype=np.int64)
    put("part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, n_part)].tolist(),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))

    r = rng_for(4)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)].tolist(),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    r = rng_for(5)
    put("lineitem", {
        "l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)].tolist(),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))

    r = rng_for(6)
    gaps = r.exponential(30 * 86_400 / n_ev, n_ev)  # the stream spans ~30 days
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"),
        "user_id": r.integers(0, max(n_ev * 3 // 200, 10), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)].tolist(),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))

    r = rng_for(7)
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), r.integers(10, 101))])
             for _ in range(n_docs)]
    # 5% planted near-duplicates: a copy of another document plus a marker
    for i in r.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(r.integers(0, n_docs))] + " dup"
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    r = rng_for(8)
    x = r.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
    return rows


# --- FPL season ------------------------------------------------------------

FIRST = ["Mo", "Harry", "Kevin", "Bukayo", "Erling", "Son", "Phil", "Declan",
         "Jack", "Marcus", "Bruno", "Virgil", "Trent", "Ollie", "Jarrod"]
LAST = ["Kane", "Bruyne", "Saka", "Haaland", "Heung", "Foden", "Rice", "Grealish",
        "Rashford", "Sterling", "Fernandes", "Dijk", "Watkins", "Bowen", "Salah"]
POSITIONS = {1: "gk", 2: "def", 3: "mid", 4: "fwd"}
N_TEAMS, N_WEEKS = 20, 38
# FPL prices in tenths of a million, restricted to values coprime to 10 so
# total_points / now_cost * 10 never lands exactly on a 2-dp rounding tie
# (Spark's decimal HALF_UP and DuckDB's double round would split on one).
COSTS = [c for c in range(39, 134) if c % 2 and c % 5]


class Season:
    """One seeded FPL season; every landing snapshot and the curated star
    are views of it, so ETL results can be checked against it exactly."""

    def __init__(self, seed: int, n_players: int = 700, n_understat: int = 40,
                 n_weeks: int = N_WEEKS) -> None:
        rng = random.Random(seed)
        self.n_weeks = n_weeks
        self.teams = [
            {"id": i, "name": f"Team {i}", "short_name": f"T{i:02d}",
             "strength_attack_home": rng.randint(1000, 1400),
             "strength_defence_home": rng.randint(1000, 1400),
             "strength_attack_away": rng.randint(1000, 1400),
             "strength_defence_away": rng.randint(1000, 1400), "code": i + 50}
            for i in range(1, N_TEAMS + 1)
        ]
        self.players = [
            {"id": i, "first_name": FIRST[rng.randrange(len(FIRST))],
             "second_name": f"{LAST[rng.randrange(len(LAST))]}{i}",
             "now_cost": rng.choice(COSTS), "team": rng.randint(1, N_TEAMS),
             "element_type": rng.randint(1, 4)}
            for i in range(1, n_players + 1)
        ]
        self.history: list[dict] = []  # ordered by (round, element)
        for gw in range(1, n_weeks + 1):
            for p in self.players:
                if rng.random() < 0.05:  # ~5% skipped player-weeks
                    continue
                self.history.append({
                    "element": p["id"], "fixture": gw * 1000 + p["team"],
                    "total_points": rng.randint(-2, 15), "opponent_team": rng.randint(1, N_TEAMS),
                    "was_home": rng.random() < 0.5, "team_h_score": rng.randint(0, 5),
                    "team_a_score": rng.randint(0, 5), "round": gw, "minutes": rng.randint(0, 90),
                    "goals_scored": rng.randint(0, 2), "assists": rng.randint(0, 2),
                    "clean_sheets": rng.randint(0, 1), "goals_conceded": rng.randint(0, 4),
                    "own_goals": 0, "penalties_saved": 0, "penalties_missed": 0,
                    "yellow_cards": rng.randint(0, 1), "red_cards": 0,
                    "saves": rng.randint(0, 5), "bonus": rng.randint(0, 3),
                    "bps": rng.randint(0, 60),
                    "influence": f"{rng.uniform(0, 99):.1f}",
                    "creativity": f"{rng.uniform(0, 99):.1f}",
                    "threat": f"{rng.uniform(0, 99):.1f}",
                    "ict_index": f"{rng.uniform(0, 30):.1f}",
                    "value": p["now_cost"],
                })
        self.understat: list[dict] = []  # one row per (understat id, match)
        for k, p in enumerate(rng.sample(self.players, n_understat)):
            for gw in range(1, n_weeks + 1):
                if rng.random() < 0.25:
                    continue
                self.understat.append({
                    "player_id": 5000 + k, "player": f"{p['first_name']} {p['second_name']}",
                    "time": rng.randint(0, 90), "key_passes": rng.randint(0, 6),
                    "assists": rng.randint(0, 2), "shots": rng.randint(0, 7),
                    "xG": f"{rng.uniform(0, 1.5):.2f}", "xA": f"{rng.uniform(0, 1.2):.2f}",
                    "match_id": gw,
                })
        self.avg_scores = [rng.randint(30, 80) for _ in range(n_weeks)]

    # -- views ------------------------------------------------------------

    def history_upto(self, gw: int) -> list[dict]:
        return [h for h in self.history if h["round"] <= gw]

    def elements_at(self, gw: int) -> list[dict]:
        """bootstrap elements[] as published after ``gw``: form is the mean
        of the last 4 weeks' points, total_points the season sum so far."""
        pts: dict[int, list[int]] = {}
        for h in self.history_upto(gw):
            pts.setdefault(h["element"], []).append(h["total_points"])
        out = []
        for p in self.players:
            seq = pts.get(p["id"], [])
            form = max(sum(seq[-4:]) / 4.0, 0.0)
            out.append({**p, "form": f"{form:.1f}", "total_points": sum(seq)})
        return out

    def events_at(self, gw: int) -> list[dict]:
        return [
            {"id": i, "name": f"Gameweek {i}", "average_entry_score": self.avg_scores[i - 1],
             "finished": i <= gw, "data_checked": i <= gw}
            for i in range(1, self.n_weeks + 1)
        ]

    def understat_upto(self, gw: int) -> list[dict]:
        return [u for u in self.understat if u["match_id"] <= gw]

    # -- layouts ----------------------------------------------------------

    def write_landing(self, landing_dir: str, gw: int) -> dict[str, int]:
        """Raw landing zone after ``gw``: bootstrap_static.json, one
        summaries/<id>.json per player, one scrapp_stat_data/<id>.csv per
        understat player. Returns file counts and bytes."""
        sdir = os.path.join(landing_dir, "summaries")
        cdir = os.path.join(landing_dir, "scrapp_stat_data")
        os.makedirs(sdir, exist_ok=True)
        os.makedirs(cdir, exist_ok=True)
        doc = {"elements": self.elements_at(gw), "teams": self.teams, "events": self.events_at(gw)}
        with open(os.path.join(landing_dir, "bootstrap_static.json"), "w") as f:
            json.dump(doc, f)
        by_player: dict[int, list[dict]] = {p["id"]: [] for p in self.players}
        for h in self.history_upto(gw):
            by_player[h["element"]].append(h)
        for pid, hist in by_player.items():
            with open(os.path.join(sdir, f"{pid}.json"), "w") as f:
                json.dump({"history": hist}, f)
        by_us: dict[int, list[dict]] = {}
        for u in self.understat_upto(gw):
            by_us.setdefault(u["player_id"], []).append(u)
        cols = ["player_id", "player", "time", "key_passes", "assists", "shots", "xG", "xA", "match_id"]
        for uid, us in by_us.items():
            with open(os.path.join(cdir, f"{uid}.csv"), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow([""] + cols)
                for i, u in enumerate(us):
                    w.writerow([i] + [u[c] for c in cols])
        files = 1 + len(by_player) + len(by_us)
        return {"landing_files": files, "landing_bytes": tree_bytes(landing_dir)}

    def write_star(self, star_dir: str, gw: int | None = None) -> dict[str, int]:
        """The curated star as loaded after ``gw`` (default: the last
        gameweek), one parquet file per table directory, typed like
        sources/schemas.py and the ingest build_* functions. Returns row counts."""
        gw = self.n_weeks if gw is None else gw
        d2 = lambda x: Decimal(str(x)).quantize(Decimal("0.01"))  # noqa: E731
        dec, i32, s, b = pa.decimal128(18, 2), pa.int32(), pa.string(), pa.bool_()
        elems, events, stats = self.elements_at(gw), self.events_at(gw), self.understat_upto(gw)
        tables = {
            "team_dm": pa.table({
                "id": [t["id"] for t in self.teams], "name": [t["name"] for t in self.teams],
                "short_name": [t["short_name"] for t in self.teams],
                "strength_att_home": [t["strength_attack_home"] for t in self.teams],
                "strength_def_home": [t["strength_defence_home"] for t in self.teams],
                "strength_att_away": [t["strength_attack_away"] for t in self.teams],
                "strength_def_away": [t["strength_defence_away"] for t in self.teams],
                "code": [t["code"] for t in self.teams],
            }, schema=pa.schema([("id", i32), ("name", s), ("short_name", s),
                                 ("strength_att_home", i32), ("strength_def_home", i32),
                                 ("strength_att_away", i32), ("strength_def_away", i32),
                                 ("code", i32)])),
            "player_dm": pa.table({
                "id": [e["id"] for e in elems], "name": [e["first_name"] for e in elems],
                "surname": [e["second_name"] for e in elems],
                "form": [d2(e["form"]) for e in elems],
                "total_points": [e["total_points"] for e in elems],
                "now_costs": [d2(e["now_cost"]) for e in elems],
                "team_id": [e["team"] for e in elems],
                "position": [POSITIONS[e["element_type"]] for e in elems],
            }, schema=pa.schema([("id", i32), ("name", s), ("surname", s), ("form", dec),
                                 ("total_points", i32), ("now_costs", dec), ("team_id", i32),
                                 ("position", s)])),
            "player_week_ft": _fact_table(self.history_upto(gw)),
            "player_stats_dm": pa.table({
                "id": [u["player_id"] for u in stats],
                "full_name": [u["player"] for u in stats],
                "min_played": [u["time"] for u in stats],
                "key_passes": [u["key_passes"] for u in stats],
                "assists": [u["assists"] for u in stats],
                "shots": [u["shots"] for u in stats],
                "xg": [d2(u["xG"]) for u in stats],
                "xa": [d2(u["xA"]) for u in stats],
                "match_id": [u["match_id"] for u in stats],
            }, schema=pa.schema([("id", i32), ("full_name", s), ("min_played", i32),
                                 ("key_passes", i32), ("assists", i32), ("shots", i32),
                                 ("xg", dec), ("xa", dec), ("match_id", i32)])),
            "week_info_dm": pa.table({
                "id": [e["id"] for e in events], "name": [e["name"] for e in events],
                "avg_score": [e["average_entry_score"] for e in events],
                "finished": [e["finished"] for e in events],
                "data_checked": [e["data_checked"] for e in events],
            }, schema=pa.schema([("id", i32), ("name", s), ("avg_score", i32),
                                 ("finished", b), ("data_checked", b)])),
        }
        rows = {}
        for name, t in tables.items():
            os.makedirs(os.path.join(star_dir, name), exist_ok=True)
            _write(t, os.path.join(star_dir, name, "part-00000.parquet"))
            rows[name] = t.num_rows
        return rows


FACT_COLS = [
    ("element_", "element"), ("fixture", "fixture"), ("total_points", "total_points"),
    ("opp_team", "opponent_team"), ("was_home", "was_home"), ("team_h_score", "team_h_score"),
    ("team_a_score", "team_a_score"), ("round_gw", "round"), ("minutes", "minutes"),
    ("goals_scored", "goals_scored"), ("assists", "assists"), ("clean_sheets", "clean_sheets"),
    ("goals_conceded", "goals_conceded"), ("own_goals", "own_goals"),
    ("penalties_saved", "penalties_saved"), ("penalties_missed", "penalties_missed"),
    ("yellow_card", "yellow_cards"), ("red_card", "red_cards"), ("save", "saves"),
    ("bonus", "bonus"), ("bps", "bps"), ("influence", "influence"),
    ("creativity", "creativity"), ("threat", "threat"), ("ict_index", "ict_index"),
    ("value_ply", "value"),
]


def _fact_table(history: list[dict]) -> pa.Table:
    fields, cols = [], {}
    for out, raw in FACT_COLS:
        vals = [h[raw] for h in history]
        if out == "value_ply":
            typ, vals = pa.decimal128(18, 2), [Decimal(v).quantize(Decimal("0.01")) for v in vals]
        elif out == "was_home":
            typ = pa.bool_()
        elif out in ("influence", "creativity", "threat", "ict_index"):
            typ = pa.string()
        else:
            typ = pa.int32()
        fields.append((out, typ))
        cols[out] = vals
    return pa.table(cols, schema=pa.schema(fields))


def tree_files(root: str) -> dict[str, int]:
    """Every regular file under ``root`` with its size (path -> bytes)."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def tree_bytes(root: str) -> int:
    return sum(tree_files(root).values())
