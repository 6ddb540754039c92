"""Seeded input generators for the benchmark.

Two generators, both pure functions of (seed, size):

* ``write_tables`` writes the ten warehouse tables (region, nation, customer,
  supplier, part, orders, lineitem, events, documents, embeddings) as one
  parquet file each, with the column names, physical types and value
  distributions of the repository's testdata layout (TESTDATA.md), at a
  chosen scale factor.
* ``write_sparkify_lake`` writes a Sparkify-format JSON lake
  (``song_data/*/*/*/TR*.json`` one object per file, ``log-data/*.json``
  NDJSON split by month) with the edge cases of FIXTURES.md section B, and
  returns the ground truth: the row count of each of the five star-schema
  tables and the answers of the four README queries.
"""
import json
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# warehouse tables
# ---------------------------------------------------------------------------

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
         "big", "sort", "query", "fast", "the"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _days(rng, n, lo, hi):
    """n uniform midnight timestamps in [lo, hi] as timestamp[us] values."""
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d).astype(int))
    return (lo_d + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir, seed, sf):
    """Write the ten tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))
    # documents: 5% are an earlier document's text plus " dup" (the
    # near-duplicates the dedup queries look for)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, n_docs, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


# ---------------------------------------------------------------------------
# Sparkify lake
# ---------------------------------------------------------------------------

FIRST = ["Ava", "Ben", "Chloe", "Dev", "Ema", "Finn", "Gia", "Hugo", "Ines", "Jay",
         "Kate", "Liam", "Mia", "Noah", "Olga", "Paul", "Quin", "Rosa", "Sam", "Tegan"]
LAST = ["Adams", "Baker", "Cuevas", "Diaz", "Evans", "Ford", "Garcia", "Harrell",
        "Ito", "Jones", "Khan", "Levine", "Moss", "Nunez", "Ortiz", "Park"]
TITLE_A = ["Midnight", "Winter", "Golden", "Broken", "Silent", "Electric", "Lonely",
           "Summer", "Paper", "Velvet", "Neon", "Crystal"]
TITLE_B = ["Star", "Tune", "Heart", "Road", "Dream", "River", "Fire", "Rain",
           "Garden", "Echo", "Light", "Song"]
CITIES = ["San Francisco-Oakland-Hayward, CA", "Chicago-Naperville-Elgin, IL-IN-WI",
          "Atlanta-Sandy Springs-Roswell, GA", "Portland-South Portland, ME",
          "Lansing-East Lansing, MI", "Tampa-St. Petersburg-Clearwater, FL"]
AGENTS = ['"Mozilla/5.0 (Windows NT 6.1; WOW64)"', '"Mozilla/5.0 (Macintosh)"',
          "Mozilla/5.0 (X11; Linux x86_64)"]
MONTHS = [(2018, 11), (2018, 12), (2019, 1)]
LETTERS = "ABC"


def _ms(y, m, d=1, h=0):
    return int(datetime(y, m, d, h, tzinfo=timezone.utc).timestamp() * 1000)


def write_sparkify_lake(in_dir, seed, n_songs, n_events):
    """Write the JSON lake under ``in_dir`` and return its ground truth."""
    rng = np.random.default_rng(seed)
    n_artists = max(4, n_songs // 3)
    artists = []
    for a in range(n_artists):
        located = rng.random() < 0.5
        artists.append({
            "artist_id": f"AR{a:06d}{seed % 1000:03d}",
            "artist_name": f"Artist {a:05d}",
            "artist_latitude": round(float(rng.uniform(-60, 60)), 5) if located else None,
            "artist_longitude": round(float(rng.uniform(-150, 150)), 5) if located else None,
            "artist_location": CITIES[a % len(CITIES)] if located else "",
        })
    # The seed draws values; counts that set the amount of work (files,
    # partitions of the written tables) are the same for every seed.
    songs = []  # distinct song records (one per song_id)
    for k in range(n_songs):
        art = artists[k % n_artists]
        rec = dict(num_songs=1, **art)
        rec.update({
            "song_id": "" if k % 50 == 1 else f"SO{k:07d}",
            "title": f"{TITLE_A[k % 12]} {TITLE_B[(k // 12) % 12]} {k // 144}",
            "duration": round(float(rng.uniform(60, 600)), 5),
            "year": 0 if k % 5 == 0 else 1960 + (k * 7) % 59,
        })
        if k % 50 == 2:
            del rec["song_id"]  # key absent: reads as null
        songs.append(rec)
    # same title under a second artist_id (the reference README's note)
    for k in range(0, n_songs, 25):
        twin = dict(songs[k])
        other = artists[(n_artists - 1 - k) % n_artists]
        twin.update({key: other[key] for key in other})
        twin["song_id"] = f"ST{k:07d}"
        songs.append(twin)
    # exact duplicate files
    raw = songs + [songs[int(i)] for i in rng.choice(len(songs), max(1, len(songs) // 30), replace=False)]
    for i, rec in enumerate(raw):
        tid = "TR" + "".join(LETTERS[int(x)] for x in rng.integers(0, 3, 3)) + f"{i:07d}"
        d = os.path.join(in_dir, "song_data", tid[2], tid[3], tid[4])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, tid + ".json"), "w") as f:
            json.dump(rec, f)

    # users: unique full names; 1 in 5 changes level (free <-> paid) mid-log
    n_users = max(8, n_events // 60)
    pairs = rng.permutation(len(FIRST) * len(LAST) * 4)[:n_users]
    users = []
    for u, p in enumerate(pairs):
        first = FIRST[p % len(FIRST)]
        last = LAST[(p // len(FIRST)) % len(LAST)] + ("" if p < len(FIRST) * len(LAST) else f"-{p // (len(FIRST) * len(LAST))}")
        users.append({"userId": str(10 + u), "firstName": first, "lastName": last,
                      "gender": "F" if rng.random() < 0.5 else "M",
                      "location": CITIES[u % len(CITIES)], "userAgent": AGENTS[u % len(AGENTS)],
                      "registration": float(1540000000000 + u * 1000.5),
                      "upgrade_at": float(rng.uniform(0.2, 0.8)) if rng.random() < 0.2 else None,
                      "level0": "free" if rng.random() < 0.6 else "paid"})
    t_lo, t_hi = _ms(*MONTHS[0]), _ms(2019, 2)
    events = []
    session = 1000
    while len(events) < n_events:
        session += 1
        u = users[int(rng.integers(0, n_users))]
        anon = rng.random() < 0.03
        t = int(rng.integers(t_lo, t_hi - 3_600_000))
        for item in range(int(rng.integers(1, 12))):
            t += int(rng.integers(0, 240_000)) if item else 0
            if rng.random() < 0.05:
                t_event = t + int(rng.integers(1, 999))  # sub-second neighbour
            else:
                t_event = t
            frac = (t_event - t_lo) / (t_hi - t_lo)
            level = u["level0"]
            if u["upgrade_at"] is not None and frac >= u["upgrade_at"]:
                level = "paid" if u["level0"] == "free" else "free"
            page = "NextSong" if rng.random() < 0.8 else ["Home", "Login", "Logout", "Settings"][int(rng.integers(0, 4))]
            song = artist = length = None
            if page == "NextSong":
                if rng.random() < 0.7:
                    s = songs[int(rng.integers(0, len(songs)))]
                    song, artist, length = s["title"], s["artist_name"], s["duration"]
                else:
                    song = f"Garage Demo {int(rng.integers(0, 500))}"
                    artist = f"Nobody Famous {int(rng.integers(0, 50))}"
                    length = 200.0
            events.append({
                "artist": artist, "auth": "Logged Out" if anon else "Logged In",
                "firstName": None if anon else u["firstName"], "gender": None if anon else u["gender"],
                "itemInSession": item, "lastName": None if anon else u["lastName"],
                "length": length, "level": level, "location": None if anon else u["location"],
                "method": "PUT" if page == "NextSong" else "GET", "page": page,
                "registration": None if anon else u["registration"], "sessionId": session,
                "song": song, "status": 200, "ts": t_event,
                "userAgent": None if anon else u["userAgent"], "userId": "" if anon else u["userId"],
            })
    events = events[:n_events]
    os.makedirs(os.path.join(in_dir, "log-data"), exist_ok=True)
    for y, m in MONTHS:
        lo, hi = _ms(y, m), (_ms(y + 1, 1) if m == 12 else _ms(y, m + 1))
        with open(os.path.join(in_dir, "log-data", f"{y}-{m:02d}-events.json"), "w") as f:
            for e in sorted((e for e in events if lo <= e["ts"] < hi), key=lambda e: e["ts"]):
                f.write(json.dumps(e) + "\n")
    return sparkify_truth(raw, events)


def sparkify_truth(raw_songs, events):
    """Row counts and README answers computed independently in pandas."""
    sd = pd.DataFrame(raw_songs)
    sd["song_id"] = sd["song_id"].where(sd["song_id"].notna(), None)
    ev = pd.DataFrame(events)
    plays = ev[ev["page"] == "NextSong"].copy()
    songs = sd[sd["song_id"].notna() & (sd["song_id"] != "")][
        ["song_id", "title", "artist_id", "year", "duration"]].drop_duplicates()
    artists = sd[sd["artist_id"] != ""][
        ["artist_id", "artist_name", "artist_location", "artist_latitude", "artist_longitude"]
    ].drop_duplicates()
    users = plays[plays["userId"] != ""][
        ["userId", "firstName", "lastName", "gender", "level"]].drop_duplicates()
    # songplays: left outer join on (song == title, artist == artist_name)
    keyed = plays[plays["song"].notna() & plays["artist"].notna()]
    m = keyed.reset_index().merge(
        sd[["title", "artist_name", "song_id", "artist_id"]],
        left_on=["song", "artist"], right_on=["title", "artist_name"], how="inner")
    n_songplays = len(plays) + len(m) - m["index"].nunique()
    sp = pd.concat([
        m[["index", "userId", "level", "sessionId", "ts", "song_id", "artist_id"]],
        plays.drop(index=m["index"].unique()).reset_index()[
            ["index", "userId", "level", "sessionId", "ts"]].assign(song_id=None, artist_id=None),
    ], ignore_index=True)
    assert len(sp) == n_songplays
    # README 1: top songs
    j = sp.merge(songs, on="song_id").merge(artists, left_on="artist_id_x", right_on="artist_id")
    top_songs = (j.groupby(["title", "artist_name"]).size().reset_index(name="count")
                 .sort_values(["count", "title", "artist_name"], ascending=[False, True, True])
                 .head(10))
    # README 2/3: plays joined with users on (user_id, level)
    ju = sp.merge(users, on=["userId", "level"])
    ju["user_name"] = ju["firstName"] + " " + ju["lastName"]
    per_user = ju.groupby(["userId", "user_name"]).size().reset_index(name="song_count")
    top_users = per_user.sort_values(["song_count", "user_name"], ascending=[False, True]).head(10)
    max_count = per_user["song_count"].max()
    top_ids = sorted(per_user[per_user["song_count"] == max_count]["userId"])
    # README 4: top sessions of the first top user
    uid = top_ids[0]
    ju4 = ju[ju["userId"] == uid].merge(songs, on="song_id")
    dt = pd.to_datetime((ju4["ts"] // 1000) * 1000, unit="ms", utc=True)
    ju4 = ju4.assign(date=[f"{d.year}-{d.month}-{d.day}" for d in dt])
    sess = (ju4.groupby(["sessionId", "date", "user_name"]).size().reset_index(name="song_count")
            .sort_values(["song_count", "date"], ascending=[False, True]))
    top5 = sess.head(5)
    return {
        "input_records": len(raw_songs) + len(events),
        "rows": {"songs": len(songs), "artists": len(artists), "users": len(users),
                 "time": len(plays), "songplays": int(n_songplays)},
        "top_songs": [[r.title, r.artist_name, int(r.count)] for r in top_songs.itertuples()],
        "top_users": [[r.userId, r.user_name, int(r.song_count)] for r in top_users.itertuples()],
        "top_user_ids": top_ids,
        "sessions_user": uid,
        # (date, user_name, song_count) is fixed by the ORDER BY; session_id
        # may differ among rows that tie on (song_count, date)
        "top_sessions": [[r.date, r.user_name, int(r.song_count)] for r in top5.itertuples()],
        "session_choices": {f"{r.date}|{int(r.song_count)}": sorted(
            int(x) for x in sess[(sess["date"] == r.date) & (sess["song_count"] == r.song_count)]["sessionId"])
            for r in top5.itertuples()},
    }
