"""Seeded input generators for the benchmark.

Every generator takes a numpy RandomState built from the run's --seed, so
one seed always yields byte-identical inputs. The program under test only
ever sees the files written here.

  pinterest()  pin/geo/user wire JSON (FIXTURES.md section 1 domains), with
               planted duplicate and sentinel shares; returns the row counts
               the cleaners must produce.
  tables()     the TPC-H-ish star schema + events + embeddings that the
               registry queries of query_mix read.
  corpus()     a `documents` table with planted near-duplicates, shared
               boilerplate, junk, PII and eval-slice contamination.
"""
import datetime as dt
import json
import os

import numpy as np

# --- pin / geo / user -------------------------------------------------------

PIN_SENTINELS = {
    "title": "No Title Data Available",
    "description": "Untitled",
    "poster_name": "User Info Error",
    "tag_list": "N,o, ,T,a,g,s, ,A,v,a,i,l,a,b,l,e",
    "image_src": "Image src error.",
}
CATEGORIES = ["art", "beauty", "christmas", "diy-and-crafts", "education",
              "event-planning", "finance", "home-decor", "mens-fashion",
              "quotes", "tattoos", "travel", "vehicles"]
COUNTRIES = ["Afghanistan", "Albania", "Algeria", "Andorra", "Angola",
             "Argentina", "Armenia", "Aruba", "Australia", "Austria",
             "Bahamas", "Bangladesh", "Belgium", "Bolivia", "Brazil",
             "Bulgaria", "Cambodia", "Canada", "Chile", "Colombia"]
FIRST = ["Alexandra", "Andrew", "Bethany", "Brian", "Chloe", "Daniel",
         "Emma", "Frank", "Grace", "Henry", "Isla", "Jack", "Kara", "Liam"]
LAST = ["Adams", "Baker", "Clark", "Davis", "Evans", "Fisher", "Green",
        "Hughes", "Irwin", "Jones", "King", "Lopez", "Moore", "Nolan"]
WORDS = ["cozy", "bright", "modern", "vintage", "minimal", "rustic", "bold",
         "soft", "classic", "summer", "winter", "easy", "quick", "simple",
         "ideas", "tips", "guide", "room", "style", "gift", "design", "look",
         "recipe", "plan", "budget", "trip", "garden", "wall", "paint"]
FOLLOWER_FORMS = 6  # plain int, "Nk", "NM", "N.5k" (lossy), sentinel, "0"

# Shares of the pin stream, stated in BENCHMARK.json and README.md.
PIN_DUP_SHARE = 0.10       # exact re-sends of an earlier pin (same record)
PIN_UNTITLED_SHARE = 0.02  # description sentinel -> NULL dedup key
GEO_DUP_SHARE = 0.05       # exact re-sends of an earlier geo record
USER_DUP_SHARE = 0.05      # exact re-sends of an earlier user record
SENTINEL_SHARE = 0.03      # each other pin sentinel column


def _iso(ts_seconds):
    return dt.datetime.fromtimestamp(int(ts_seconds), dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S")


def _epoch(y, m=1, d=1):
    return dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()


def _resend(rng, n_unique, share):
    """Row order over n_unique records with `share` of extra exact re-sends,
    each placed after its original (at-least-once redelivery)."""
    n_dup = int(round(n_unique * share))
    order = list(range(n_unique))
    src = rng.randint(0, n_unique, n_dup)
    pos = rng.randint(0, n_unique, n_dup)
    for s, p in sorted(zip(src, pos), key=lambda sp: -sp[1]):
        order.insert(max(p, s) + 1, int(s))
    return order


def pinterest(rng, n):
    """Generate n unique posts. Returns ({topic: [json line]}, expected),
    where expected holds the cleaned row count per topic."""
    ids = np.arange(1, n + 1) * 7 + 3
    # descriptions are unique per post except the Untitled sentinel
    untitled = rng.rand(n) < PIN_UNTITLED_SHARE
    wi = rng.randint(0, len(WORDS), (n, 4))
    sentinel = {c: rng.rand(n) < SENTINEL_SHARE
                for c in ("title", "poster_name", "tag_list", "image_src")}
    fform = rng.randint(0, FOLLOWER_FORMS, n)
    fnum = rng.randint(1, 999, n)
    cat = rng.randint(0, len(CATEGORIES), n)
    media = rng.randint(0, 3, n)
    pins = []
    for i in range(n):
        words = " ".join(WORDS[j] for j in wi[i])
        f = fform[i]
        follower = (str(fnum[i]) if f == 0 else f"{fnum[i]}k" if f == 1
                    else f"{fnum[i] % 9 + 1}M" if f == 2
                    else f"{fnum[i] % 9 + 1}.5k" if f == 3
                    else "User Info Error" if f == 4 else "0")
        c = CATEGORIES[cat[i]]
        rec = {
            "index": int(ids[i]),
            "unique_id": "%08x-%04x-4%03x-a%03x-%012x" % (
                rng.randint(0, 2**31), i % 65536, i % 4096, cat[i],
                int(ids[i]) * 2654435761 % (1 << 48)),
            "title": (PIN_SENTINELS["title"] if sentinel["title"][i]
                      else f"{words.title()} #{i}"),
            "description": (PIN_SENTINELS["description"] if untitled[i]
                            else f"{words} post {int(ids[i])}"),
            "poster_name": (PIN_SENTINELS["poster_name"]
                            if sentinel["poster_name"][i]
                            else f"{FIRST[i % len(FIRST)]} {c} Studio"),
            "follower_count": follower,
            "tag_list": (PIN_SENTINELS["tag_list"] if sentinel["tag_list"][i]
                         else ",".join(WORDS[j] for j in wi[i][:3])),
            "is_image_or_video": ["image", "video",
                                  "multi-video(story page format)"][media[i]],
            "image_src": (PIN_SENTINELS["image_src"]
                          if sentinel["image_src"][i]
                          else f"https://i.example.com/{int(ids[i]):x}.jpg"),
            "downloaded": str(i % 2),
            "save_location": f"Local save in /data/{c}",
            "category": c,
        }
        pins.append(json.dumps(rec, separators=(",", ":")))
    lat = np.round(rng.uniform(-90, 90, n), 4)
    lon = np.round(rng.uniform(-180, 180, n), 4)
    geo_ts = rng.uniform(_epoch(2015), _epoch(2025), n)
    country = rng.randint(0, len(COUNTRIES), n)
    geos = [json.dumps({"ind": int(ids[i]), "country": COUNTRIES[country[i]],
                        "latitude": float(lat[i]), "longitude": float(lon[i]),
                        "timestamp": _iso(geo_ts[i])},
                       separators=(",", ":")) for i in range(n)]
    age = rng.randint(16, 71, n)
    joined = rng.uniform(_epoch(2015), _epoch(2021), n)
    fn = rng.randint(0, len(FIRST), n)
    ln = rng.randint(0, len(LAST), n)
    users = [json.dumps({"ind": int(ids[i]), "first_name": FIRST[fn[i]],
                         "last_name": LAST[ln[i]], "age": int(age[i]),
                         "date_joined": _iso(joined[i])},
                        separators=(",", ":")) for i in range(n)]
    topics = {
        "pin": [pins[j] for j in _resend(rng, n, PIN_DUP_SHARE)],
        "geo": [geos[j] for j in _resend(rng, n, GEO_DUP_SHARE)],
        "user": [users[j] for j in _resend(rng, n, USER_DUP_SHARE)],
    }
    # dropDuplicates("description") folds every NULL (sentinel) key into one
    n_untitled = int(untitled.sum())
    expected = {"pin": n - n_untitled + (1 if n_untitled else 0),
                "geo": n, "user": n,
                "pin_read": len(topics["pin"]), "geo_read": len(topics["geo"]),
                "user_read": len(topics["user"])}
    return topics, expected


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def write_topics(out_dir, topics, files_per_topic):
    """One directory per topic, each split into files_per_topic JSON-lines
    files. Returns the bytes written."""
    total = 0
    for name, lines in topics.items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        step = -(-len(lines) // files_per_topic)
        for k in range(files_per_topic):
            p = os.path.join(d, f"part-{k:05d}.json")
            write_lines(p, lines[k * step:(k + 1) * step])
            total += os.path.getsize(p)
    return total


# --- TPC-H-ish tables ---------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring", "bracket"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def tables(rng, sf):
    """Table name -> pandas DataFrame, shaped like the repo's sf fixtures
    (same columns, types, key domains and value ranges; sizes scale with
    sf the same way: 15000*sf customers, 600000*sf lineitems, ...)."""
    import pandas as pd
    n_cust, n_supp = int(15000 * sf), max(int(1000 * sf), 10)
    n_part, n_ord = int(20000 * sf), int(150000 * sf)
    n_li, n_ev = int(600000 * sf), int(1000000 * sf)
    n_emb = 500
    day = 86400
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.randint(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.randint(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.randint(0, 7, n_part), rng.randint(0, 7, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": rng.randint(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    o_start = _epoch(1995)
    o_days = int((_epoch(2001, 8, 1) - o_start) // day)
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.randint(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pd.to_datetime(
            (o_start + rng.randint(0, o_days + 1, n_ord) * day) * 1e6,
            unit="us"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)]})
    s_start = _epoch(1995, 1, 2)
    s_days = int((_epoch(2001, 11, 4) - s_start) // day)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.randint(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.randint(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.randint(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": pd.to_datetime(
            (s_start + rng.randint(0, s_days + 1, n_li) * day) * 1e6,
            unit="us")})
    e_start = _epoch(2024)
    ts = np.sort(rng.uniform(e_start, e_start + 30 * day - 60, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.to_datetime(np.floor(ts * 1e6), unit="us"),
        "user_id": rng.randint(0, max(n_cust // 10, 10), n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]})
    centroids = rng.normal(size=(10, 64))
    labels = rng.randint(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": [v.astype(np.float32) for v in vecs],
        "label": labels.astype(np.int32)})
    return t


def write_parquet(out_dir, frames):
    """Write each frame as <out_dir>/<name>.parquet via DuckDB (the writer
    the oracle side reads back with). Returns the bytes written."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    total = 0
    for name, df in frames.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        con.register("frame", df)
        if name == "embeddings":
            con.execute("CREATE OR REPLACE TEMP TABLE w AS SELECT vec_id, "
                        "CAST(embedding AS FLOAT[]) AS embedding, label "
                        "FROM frame")
        else:
            con.execute("CREATE OR REPLACE TEMP TABLE w AS SELECT * FROM frame")
        con.execute(f"COPY w TO '{p}' (FORMAT PARQUET)")
        con.unregister("frame")
        total += os.path.getsize(p)
    con.close()
    return total


# --- corpus -------------------------------------------------------------------

DOC_VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow", "small",
             "sort", "spark", "stream", "table", "value", "vector", "window"]
LANGS = (["en"] * 44) + (["zh"] * 14) + (["de"] * 14) + (["fr"] * 14) + \
    (["es"] * 14)
BOILERPLATE = ("subscribe to the newsletter for weekly data engineering "
               "tips now")  # exactly ten words: one aligned segment

# Shares of the corpus, stated in BENCHMARK.json and README.md.
NEAR_DUP_SHARE = 0.15      # copy of an earlier doc with ~5% words swapped
BOILER_SHARE = 0.10        # docs that open with the shared segment
JUNK_SHARE = 0.04          # digit/punctuation docs the quality rules drop
PII_SHARE = 0.05           # docs carrying an email address
CONTAM_SHARE = 0.03        # training docs quoting 8 words of an eval doc
EVAL_SHARE = 0.05          # doc_id % 20 == 0 (CorpusOps.isEvalDoc)


def corpus(rng, n_docs):
    """`documents` frame (doc_id, text, lang, source, n_chars)."""
    import pandas as pd
    texts = []
    for i in range(n_docs):
        r = rng.rand()
        if i > 0 and r < NEAR_DUP_SHARE:
            words = texts[rng.randint(0, i)].split(" ")
            for k in rng.randint(0, len(words), max(1, len(words) // 20)):
                words[k] = DOC_VOCAB[rng.randint(0, len(DOC_VOCAB))]
            texts.append(" ".join(words))
            continue
        words = [DOC_VOCAB[j] for j in
                 rng.randint(0, len(DOC_VOCAB), rng.randint(10, 90))]
        r = rng.rand()
        if r < JUNK_SHARE:
            words = [str(rng.randint(0, 10**6)) + "#!" for _ in words]
        elif r < JUNK_SHARE + BOILER_SHARE:
            words = BOILERPLATE.split(" ") + words
        elif r < JUNK_SHARE + BOILER_SHARE + PII_SHARE:
            words.insert(rng.randint(0, len(words)),
                         f"user{rng.randint(0, 10**5)}@example.com")
        if i % 20 != 0 and i >= 20 and rng.rand() < CONTAM_SHARE:
            src = texts[rng.randint(0, i // 20) * 20].split(" ")
            at = rng.randint(0, max(1, len(src) - 8))
            words[len(words) // 2:len(words) // 2] = src[at:at + 8]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.randint(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
