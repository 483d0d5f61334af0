"""Input generators: the fixture tables the graded queries read, and the
Sparkify song/log JSON the ETL workload ingests.

Everything is derived from an integer seed through DuckDB's `hash()`
(deterministic for a given DuckDB version) or Python's `random.Random`, so
the same seed always yields byte-identical inputs. Table shapes, types and
value domains follow FIXTURES.md; only the row counts are chosen here.
"""
import hashlib
import json
import os
import random

# Row counts of the fixture tables.
SIZES = dict(supplier=100, customer=1500, part=2000, orders=15000,
             events=10000, users=150, documents=500, embeddings=500)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# bump when the generator changes, so cached fixtures are rebuilt
GEN_VERSION = 7

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()


def _u(seed, *salt):
    """SQL for a uniform double in [0, 1) keyed by seed and salt exprs."""
    args = ", ".join(str(s) for s in salt)
    return f"((hash({seed}, {args}) % 1000003)::BIGINT / 1000003.0)"


def _k(seed, n, *salt):
    """SQL for a uniform integer in [0, n)."""
    args = ", ".join(str(s) for s in salt)
    return f"(hash({seed}, {args}) % {n})::BIGINT"


def table_sql(seed, sizes):
    """name -> SELECT producing that fixture table at the given sizes."""
    s, z = seed, sizes
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    days_o = 2404  # 1995-01-01 .. 2001-08-01
    tok = (f"list_transform(range(8 + {_k(s, 89, 'src', 11)}), "
           f"j -> CASE WHEN near AND {_k(s, 12, 'i', 'j', 13)} = 0 "
           f"THEN {vocab}[1 + {_k(s, len(VOCAB), 'i', 'j', 14)}] "
           f"ELSE {vocab}[1 + {_k(s, len(VOCAB), 'src', 'j', 15)}] END)")
    comp = (f"list_transform(range(64), d -> "
            f"(hash({s}, label, d, 21) % 2001)::BIGINT / 1000.0 - 1.0 + "
            f"0.8 * ((hash({s}, i, d, 22) % 2001)::BIGINT / 1000.0 - 1.0))")
    return {
        "region": "SELECT i::INTEGER AS r_regionkey, "
                  "['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] "
                  "AS r_name FROM range(5) t(i)",
        "nation": "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
                  "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)",
        "supplier": f"SELECT i::BIGINT AS s_suppkey, "
                    f"'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name, "
                    f"{_k(s, 25, 'i', 1)}::INTEGER AS s_nationkey, "
                    f"round({_u(s, 'i', 2)} * 10999.0 - 999.99, 2) AS s_acctbal "
                    f"FROM range({z['supplier']}) t(i)",
        "customer": f"SELECT i::BIGINT AS c_custkey, "
                    f"'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name, "
                    f"{_k(s, 25, 'i', 3)}::INTEGER AS c_nationkey, "
                    f"round({_u(s, 'i', 4)} * 10999.0 - 999.99, 2) AS c_acctbal, "
                    f"['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', "
                    f"'MACHINERY'][1 + {_k(s, 5, 'i', 5)}] AS c_mktsegment "
                    f"FROM range({z['customer']}) t(i)",
        "part": f"SELECT i::BIGINT AS p_partkey, "
                f"['cold', 'hot', 'large', 'small', 'red', 'green', 'blue', 'dark']"
                f"[1 + {_k(s, 8, 'i', 6)}] || ' ' || "
                f"['widget', 'bolt', 'ring', 'gear', 'nut', 'pipe', 'valve', 'spring']"
                f"[1 + {_k(s, 8, 'i', 7)}] AS p_name, "
                f"'Brand#' || (1 + {_k(s, 25, 'i', 8)}) AS p_brand, "
                f"['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD']"
                f"[1 + {_k(s, 6, 'i', 9)}] AS p_type, "
                f"(1 + {_k(s, 50, 'i', 10)})::INTEGER AS p_size, "
                f"round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice "
                f"FROM range({z['part']}) t(i)",
        "orders": f"SELECT i::BIGINT AS o_orderkey, "
                  f"{_k(s, z['customer'], 'i', 16)}::BIGINT AS o_custkey, "
                  f"['F', 'O', 'P'][1 + {_k(s, 3, 'i', 17)}] AS o_orderstatus, "
                  f"round(1000.0 + {_u(s, 'i', 18)} * 450000.0, 2) AS o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + to_days(({_k(s, days_o, 'i', 19)})::INTEGER) "
                  f"AS o_orderdate, "
                  f"['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']"
                  f"[1 + {_k(s, 5, 'i', 20)}] AS o_orderpriority "
                  f"FROM range({z['orders']}) t(i)",
        "lineitem": f"SELECT o.o_orderkey AS l_orderkey, "
                    f"{_k(s, z['part'], 'o.o_orderkey', 'j', 23)}::BIGINT AS l_partkey, "
                    f"{_k(s, z['supplier'], 'o.o_orderkey', 'j', 24)}::BIGINT AS l_suppkey, "
                    f"(j + 1)::INTEGER AS l_linenumber, "
                    f"(1 + {_k(s, 50, 'o.o_orderkey', 'j', 25)})::DOUBLE AS l_quantity, "
                    f"round(900.0 + {_u(s, 'o.o_orderkey', 'j', 26)} * 104000.0, 2) "
                    f"AS l_extendedprice, "
                    f"({_k(s, 11, 'o.o_orderkey', 'j', 27)} / 100.0) AS l_discount, "
                    f"({_k(s, 9, 'o.o_orderkey', 'j', 28)} / 100.0) AS l_tax, "
                    f"['A', 'N', 'R'][1 + {_k(s, 3, 'o.o_orderkey', 'j', 29)}] "
                    f"AS l_returnflag, "
                    f"['F', 'O'][1 + {_k(s, 2, 'o.o_orderkey', 'j', 30)}] AS l_linestatus, "
                    f"o.o_orderdate + to_days((1 + {_k(s, 90, 'o.o_orderkey', 'j', 31)})"
                    f"::INTEGER) AS l_shipdate "
                    f"FROM orders o, range(7) t(j) "
                    f"WHERE j < 1 + {_k(s, 7, 'o.o_orderkey', 32)}",
        "events": f"SELECT i::BIGINT AS event_id, "
                  f"TIMESTAMP '2024-01-01' + to_microseconds("
                  f"(i * (2592000000000 // {z['events']}) + "
                  f"{_k(s, 2592000000000 // z['events'], 'i', 33)})::BIGINT) AS ts, "
                  f"{_k(s, z['users'], 'i', 34)}::BIGINT AS user_id, "
                  f"['click', 'error', 'purchase', 'signup', 'view']"
                  f"[1 + {_k(s, 5, 'i', 35)}] AS event_type, "
                  f"round({_u(s, 'i', 36)} * 560.0, 2) AS value, "
                  f"'{{\"k\": ' || {_k(s, 100, 'i', 37)} || '}}' AS props "
                  f"FROM range({z['events']}) t(i)",
        # every 8th document is a near-copy of one of the previous 40
        # (about 1 token in 12 replaced); every 97th is an exact copy
        "documents": f"SELECT i::BIGINT AS doc_id, text, "
                     f"['de', 'en', 'es', 'fr', 'zh'][1 + {_k(s, 5, 'i', 38)}] AS lang, "
                     f"'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars "
                     f"FROM (SELECT i, array_to_string({tok}, ' ') AS text FROM ("
                     f"SELECT i, (i % 8 = 7) AS near, CASE "
                     f"WHEN i % 97 = 96 THEN i - 1 - {_k(s, 40, 'i', 39)} "
                     f"WHEN i % 8 = 7 THEN greatest(0, i - 1 - {_k(s, 40, 'i', 40)}) "
                     f"ELSE i END AS src FROM range({z['documents']}) t(i)))",
        "embeddings": f"SELECT i::BIGINT AS vec_id, "
                      f"list_transform(v, x -> (x / sqrt(list_sum("
                      f"list_transform(v, y -> y * y))))::FLOAT) AS embedding, "
                      f"label::INTEGER AS label FROM (SELECT i, label, {comp} AS v "
                      f"FROM (SELECT i, {_k(s, 10, 'i', 41)} AS label "
                      f"FROM range({z['embeddings']}) t(i)))",
    }


def build_fixtures(root, seed):
    """Write the ten fixture parquet files under `root` (once; reused while
    the generator version is unchanged). Returns the directory and a
    checksum over the files' bytes."""
    import duckdb
    out = os.path.join(root, f"v{GEN_VERSION}", f"bench-{seed}")
    stamp = os.path.join(out, "CHECKSUM")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return out, f.read().strip()
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name, sql in table_sql(seed, SIZES).items():
        con.execute(f"CREATE TABLE {name} AS {sql}")
    digest = hashlib.sha256()
    for name in TABLES:
        path = os.path.join(tmp, f"{name}.parquet")
        key = con.execute(f"SELECT * FROM {name} LIMIT 0").description[0][0]
        con.execute(f"COPY (SELECT * FROM {name} ORDER BY {key}"
                    f"{', l_linenumber' if name == 'lineitem' else ''}) "
                    f"TO '{path}' (FORMAT parquet)")
        with open(path, "rb") as f:
            digest.update(f.read())
    con.close()
    with open(os.path.join(tmp, "CHECKSUM"), "w") as f:
        f.write(digest.hexdigest())
    os.replace(tmp, out)
    return out, digest.hexdigest()


# ---- Sparkify song/log JSON ------------------------------------------------

def sparkify_inputs(out, seed, songs=200, artists=10, users=60,
                    log_files=10, events_per_file=180):
    """Write song_data/*.json and log_data/*.json (JSON lines, the
    reference's field names) under `out`, and return the answers the ETL
    must reproduce, computed here from what was generated."""
    rnd = random.Random(seed)
    os.makedirs(os.path.join(out, "song_data"), exist_ok=True)
    os.makedirs(os.path.join(out, "log_data"), exist_ok=True)
    song_rows = []
    for i in range(songs):
        # a fixed layout of (year, artist) partitions for every seed
        a = i % artists
        song_rows.append({
            "num_songs": 1, "artist_id": f"AR{a:06d}",
            "artist_latitude": None if a % 3 == 0 else round(a * 0.11 - 20.0, 5),
            "artist_longitude": None if a % 3 == 0 else round(a * 0.23 - 60.0, 5),
            "artist_location": f"City {a % 50}", "artist_name": f"Artist {a}",
            "song_id": f"SO{i:06d}", "title": f"Song {i} {rnd.choice(VOCAB)}",
            "duration": round(rnd.uniform(60.0, 420.0), 5),
            "year": 2000 + (i // artists) % 3})
    per_file = 100
    for f in range(0, songs, per_file):
        with open(os.path.join(out, "song_data", f"songs_{f // per_file:03d}.json"), "w") as fh:
            for r in song_rows[f:f + per_file]:
                fh.write(json.dumps(r) + "\n")
    level = {u: rnd.choice(["free", "paid"]) for u in range(1, users + 1)}
    ts = 1541030400000  # 2018-11-01T00:00:00Z, epoch ms
    plays = 0
    matched = 0
    start_times = set()
    latest = {}
    for f in range(log_files):
        with open(os.path.join(out, "log_data", f"events_{f:03d}.json"), "w") as fh:
            for e in range(events_per_file):
                ts += rnd.randint(1, 4000)
                u = rnd.randrange(1, users + 1)
                if rnd.random() < 0.02:
                    level[u] = "paid" if level[u] == "free" else "free"
                page = "NextSong" if rnd.random() < 0.8 else rnd.choice(
                    ["Home", "Logout", "Settings", "About"])
                # as in the reference logs, only a logged-in user plays songs
                logged_in = page == "NextSong" or rnd.random() < 0.9
                song = artist = length = None
                if page == "NextSong":
                    if rnd.random() < 0.7:
                        s = rnd.choice(song_rows)
                        song, artist, length = s["title"], s["artist_name"], s["duration"]
                        matched += 1
                    else:
                        song = f"Unknown {rnd.randrange(10**6)}"
                        artist = f"Nobody {rnd.randrange(1000)}"
                        length = round(rnd.uniform(60.0, 420.0), 5)
                    plays += 1
                    start_times.add(ts)
                    if logged_in:
                        latest[u] = level[u]
                fh.write(json.dumps({
                    "artist": artist, "auth": "Logged In" if logged_in else "Logged Out",
                    "firstName": f"First{u}", "gender": "FM"[u % 2],
                    "itemInSession": e % 50, "lastName": f"Last{u}",
                    "length": length, "level": level[u],
                    "location": f"Town {u % 40}", "method": "PUT",
                    "page": page, "registration": 1540000000000.0 + u,
                    "sessionId": u * 100 + f, "song": song, "status": 200,
                    "ts": ts, "userAgent": "bench",
                    "userId": str(u) if logged_in else ""}) + "\n")
    return {
        "rows_ingested": songs + log_files * events_per_file,
        "log_rows": log_files * events_per_file,
        "log_files": log_files,
        "songs": songs,
        "artists": len({r["artist_id"] for r in song_rows}),
        "songplays": plays,
        "matched_song_ids": matched,
        "start_times": len(start_times),
        "users": sorted([int(u), lvl] for u, lvl in latest.items()),
    }
