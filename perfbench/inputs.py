"""Seeded inputs for the benchmark workloads.

Relational tables and documents come from the repository's own generator
(`tools/gen_scale.py`). The relational tables are then dressed into the
raw-credits schema of the workforce pipeline, with dims at the sizes of the
reference's curated maps: a 549-entry company map that includes misspelled
searches, a 543-entry role map onto 83 roles, 474 company locations, 19
locations and 6 global regions. Everything is a pure function of the seed
and is cached under the checkout, keyed by workload, seed, scale and a hash
of the generating code.
"""
import calendar
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# scale of the relational tables (orders ≙ credits, customers ≙ people,
# suppliers ≙ studios) and of the document corpus
TABLE_SCALE = 0.005
DOC_SCALE = 0.02

N_COMPANIES = 500        # canonical studios in the company map
N_LOCATED = 474          # studios with a location
N_MISSPELLED = 44        # extra misspelled searches
N_BADDATA = 5            # searches mapped to a zzz_baddata sentinel
NOUNS = ["Pictures", "Digital", "Effects", "Animation", "Visual", "Post",
         "Motion", "Works"]
ROLE_BASES = ["compositor", "animator", "modeller", "rigger", "lighter",
              "matchmover", "roto artist", "paint artist", "fx artist",
              "texture artist", "layout artist", "producer"]
ROLE_PREFIXES = ["", "senior ", "lead ", "junior ", "digital ", "cg ", "key "]
N_ROLES = 83
N_ROLE_SEARCHES = 543
CITIES = [  # (location, lat, lon, global region)
    ("wellington", -41.3, 174.8, "oceania"), ("auckland", -36.8, 174.8, "oceania"),
    ("sydney", -33.9, 151.2, "oceania"), ("london", 51.5, -0.1, "europe"),
    ("paris", 48.9, 2.4, "europe"), ("berlin", 52.5, 13.4, "europe"),
    ("munich", 48.1, 11.6, "europe"), ("los angeles", 34.0, -118.2, "north america"),
    ("vancouver", 49.3, -123.1, "north america"), ("montreal", 45.5, -73.6, "north america"),
    ("toronto", 43.7, -79.4, "north america"), ("new york", 40.7, -74.0, "north america"),
    ("san francisco", 37.8, -122.4, "north america"), ("mumbai", 19.1, 72.9, "asia"),
    ("singapore", 1.3, 103.8, "asia"), ("seoul", 37.6, 127.0, "asia"),
    ("beijing", 39.9, 116.4, "asia"), ("sao paulo", -23.6, -46.6, "south america"),
    ("cape town", -33.9, 18.4, "africa")]
GLOBAL_REGIONS = [("oceania", "-25.0,140.0"), ("europe", "50.0,9.0"),
                  ("north america", "45.0,-100.0"), ("asia", "30.0,100.0"),
                  ("south america", "-15.0,-60.0"), ("africa", "0.0,20.0")]
MONTHS = list(calendar.month_name)

def company_name(i):
    return f"Studio {i:03d} {NOUNS[i % len(NOUNS)]}"


def geo(city):
    return f"{city[1]},{city[2]}"


def code_hash(gen):
    """Hash of the code that makes the inputs, so a cached input set is
    rebuilt when the generator or the dressing changes."""
    h = hashlib.sha1()
    for p in (gen, os.path.abspath(__file__)):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def generate(root, workload, seed):
    """Returns the input directory of (workload, seed), building it once."""
    scale = DOC_SCALE if workload == "corpus" else TABLE_SCALE
    gen = os.path.join(root, "tools", "gen_scale.py")
    d = os.path.join(root, ".perfbench", "inputs",
                     f"{workload}-s{scale}-seed{seed}-{code_hash(gen)}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [sys.executable, gen, os.path.join(tmp, "gen"), str(scale), str(seed)]
    if workload == "corpus":
        cmd.append("--vocab=zipf")
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    g = os.path.join(tmp, "gen")
    if workload == "workforce":
        dress(g, tmp, seed)
    else:
        dress_docs(g)
    keep = {"corpus": ["documents"],
            "workforce": ["lineitem", "orders", "supplier"]}[workload]
    for t in keep:
        os.replace(os.path.join(g, t + ".parquet"), os.path.join(tmp, t + ".parquet"))
    shutil.rmtree(g)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def dims():
    """The curated dims, identical for every seed."""
    companies = [company_name(i) for i in range(N_COMPANIES)]
    cmap = [(c.lower(), c, f"c{i}") for i, c in enumerate(companies)]
    # misspelled searches: two adjacent letters of the noun swapped
    misspelled = {}
    for k in range(N_MISSPELLED):
        i = 10 * k + 5
        s = companies[i].lower()
        j = len(s) - 3
        bad = s[:j] + s[j + 1] + s[j] + s[j + 2:]
        cmap.append((bad, companies[i], f"c{i}"))
        misspelled[i] = bad
    for k in range(N_BADDATA):
        cmap.append((f"archive reel {k}", f"zzz_baddata {k}", f"z{k}"))
    roles = []
    for r in range(N_ROLES):
        roles.append((ROLE_BASES[r % len(ROLE_BASES)], r // len(ROLE_BASES)))
    rmap = []
    for p in ROLE_PREFIXES:
        for base, level in roles:
            canon = f"{base.title()} {level + 1}"
            rmap.append((f"{p}{base} {level + 1}", canon))
    rmap = rmap[:N_ROLE_SEARCHES]
    locations = [(companies[i], CITIES[i % len(CITIES)][0], geo(CITIES[i % len(CITIES)]))
                 for i in range(N_LOCATED)]
    regions = [(c[0], c[3]) for c in CITIES]
    return companies, cmap, misspelled, rmap, locations, regions


def dress(g, out, seed):
    """Orders become credits: customer ≙ person, the supplier of the order's
    first line ≙ studio, order date ≙ release, a seeded role and search."""
    rng = np.random.default_rng(seed + 7919)
    companies, cmap, misspelled, rmap, locations, regions = dims()
    orders = pq.read_table(os.path.join(g, "orders.parquet"),
                           columns=["o_orderkey", "o_custkey", "o_orderdate"]).to_pydict()
    cust = pq.read_table(os.path.join(g, "customer.parquet"),
                         columns=["c_custkey", "c_name"]).to_pydict()
    li = pq.read_table(os.path.join(g, "lineitem.parquet"),
                       columns=["l_orderkey", "l_linenumber", "l_suppkey",
                                "l_partkey"]).to_pydict()
    names = dict(zip(cust["c_custkey"], cust["c_name"]))
    # the studio of a credit: the order's first line, (supplier, part)
    # hashed onto the whole company map, so every studio of the map occurs
    # even when the tables have fewer suppliers than the map has studios
    studio_of = {}
    for ok, ln, sk, pk in zip(li["l_orderkey"], li["l_linenumber"], li["l_suppkey"],
                              li["l_partkey"]):
        if ln == 1:
            studio_of.setdefault(ok, (31 * sk + pk) % N_COMPANIES)
    role_searches = [r[0] for r in rmap]
    rows = []
    n = len(orders["o_orderkey"])
    u = rng.random((n, 6))
    for k in range(n):
        ok = orders["o_orderkey"][k]
        pk = orders["o_custkey"][k]
        dt = orders["o_orderdate"][k]
        studio = studio_of[ok]
        search = companies[studio].lower()
        if studio in misspelled and u[k, 0] < 0.3:
            search = misspelled[studio]
        if u[k, 1] < 0.02:
            search = f"indie house {int(u[k, 2] * 200)}"
        elif u[k, 1] < 0.03:
            search = f"archive reel {int(u[k, 2] * N_BADDATA)}"
        role = role_searches[int(u[k, 3] * len(role_searches))]
        if u[k, 4] < 0.03:
            role = "runner"
        release = f"{dt.day} {MONTHS[dt.month]} {dt.year}"
        row = (str(pk), names[pk], str(ok), f"title {ok}", [release], f"{role}: {search}")
        rows.append(row)
        if u[k, 5] < 0.02:  # a double credit: same movie, other search
            alt = misspelled.get(studio, companies[studio].lower())
            rows.append(row[:5] + (f"{role}: {alt}",))
    schema = pa.schema([("personId", pa.string()), ("personName", pa.string()),
                        ("movieId", pa.string()), ("movieTitle", pa.string()),
                        ("releaseDates", pa.list_(pa.string())), ("notes", pa.string())])
    pq.write_table(pa.table({f.name: [r[i] for r in rows] for i, f in enumerate(schema)},
                            schema=schema),
                   os.path.join(out, "raw_credits.parquet"))
    city = CITIES[int(rng.integers(0, len(CITIES)))][0]
    n_supp = pq.read_metadata(os.path.join(g, "supplier.parquet")).num_rows
    write_json(os.path.join(out, "params.json"),
               {"csv_target": city, "ppr_node": int(rng.integers(0, n_supp))})
    s = pa.string()
    pq.write_table(pa.table({"search": [c[0] for c in cmap], "name": [c[1] for c in cmap],
                             "id": [c[2] for c in cmap]}),
                   os.path.join(out, "company_map.parquet"))
    pq.write_table(pa.table({"search": [r[0] for r in rmap], "name": [r[1] for r in rmap]}),
                   os.path.join(out, "role_map.parquet"))
    pq.write_table(pa.table({"company": [x[0] for x in locations],
                             "location": [x[1] for x in locations],
                             "geoLoc": [x[2] for x in locations]}),
                   os.path.join(out, "locations.parquet"))
    pq.write_table(pa.table({"location": pa.array([x[0] for x in regions], s),
                             "globalRegion": pa.array([x[1] for x in regions], s)}),
                   os.path.join(out, "regions.parquet"))
    pq.write_table(pa.table({"region": [x[0] for x in GLOBAL_REGIONS],
                             "coords": [x[1] for x in GLOBAL_REGIONS]}),
                   os.path.join(out, "global_regions.parquet"))


# the quality gate's stop words, given to the most frequent Zipf ranks
STOP_WORDS = ["the", "of", "and", "a", "to", "in", "that", "be"]


def dress_docs(g):
    """Gives the eight most frequent words of the Zipf vocabulary the names of
    the quality gate's stop words, as in real text. The renaming is one to
    one, so the generator's planted exact, near and containment copies keep
    their overlap; without it no document passes the gate."""
    p = os.path.join(g, "documents.parquet")
    t = pq.read_table(p)
    names = {f"z{r}": w for r, w in enumerate(STOP_WORDS)}
    text = [" ".join(names.get(w, w) for w in x.split(" "))
            for x in t.column("text").to_pylist()]
    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text, pa.string()))
    t = t.set_column(t.schema.get_field_index("n_chars"), "n_chars",
                     pa.array([len(x) for x in text], pa.int64()))
    pq.write_table(t, p)


def describe(d):
    """Row counts and bytes of each input table."""
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            out[f[:-8]] = {"rows": pq.read_metadata(p).num_rows,
                           "bytes": os.path.getsize(p)}
    return out
