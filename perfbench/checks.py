"""Output checks, run after the benchmark JVM exits (outside the timed region).

workforce: an independent Python replay of the credits pipeline over the
  same inputs (normalize, consecutive-company dedup, dummy in-transit
  records with trip days, the directional CSV filter, the density cube and
  the canonical envelope JSON), plus the DuckDB oracles of the movement
  graph (PageRank, personalized PageRank, HITS, label propagation, k-core).
corpus: the DuckDB oracle of the composed curation pipeline.

Every check compares the output of the last measured pass. A mismatch
counts as one failed operation.
"""
import datetime
import glob
import json
import math
import os
import re

import duckdb
import pyarrow.parquet as pq

MONTHS = {m: i for i, m in enumerate(
    ["", "january", "february", "march", "april", "may", "june", "july", "august",
     "september", "october", "november", "december"])}
FLOAT_TOL = 1e-6


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def check(workload, ind, out, res):
    results = {}
    if workload == "workforce":
        results.update(check_workforce(ind, os.path.join(out, "workforce")))
        results.update(check_graph(ind, os.path.join(out, "workforce", "graph"),
                                   res["oracles"]))
    else:
        results.update(check_corpus(ind, os.path.join(out, "corpus"), res["oracle"]))
    failed = sum(1 for v in results.values() if v != "ok")
    return {"correct": failed == 0, "failed": min(failed, 1), "checks": results}


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    return con


def _same(got, want):
    """Row multisets equal; floats within FLOAT_TOL."""
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for g, w in zip(sorted(got, key=_key), sorted(want, key=_key)):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(a - b) > FLOAT_TOL:
                    return f"row {g} != {w}"
            elif a != b:
                return f"row {g} != {w}"
    return "ok"


def _key(row):
    return tuple("" if v is None else (round(v, 5) if isinstance(v, float) else v)
                 for v in row)


def _guard(fn):
    try:
        return fn()
    except Exception as e:  # a missing or unreadable output is a failed check
        return f"error: {type(e).__name__}: {e}"


# ---------------------------------------------------------------- workforce

def _rows(path, cols=None):
    return pq.read_table(path, columns=cols).to_pylist()


def replay(ind):
    """The normalized serving credits, grouped per person in serving order."""
    cmap = {r["search"]: r["name"] for r in _rows(os.path.join(ind, "company_map.parquet"))}
    rmap = {r["search"].lower(): r["name"]
            for r in _rows(os.path.join(ind, "role_map.parquet"))}
    locs = {r["company"].lower(): (r["location"], r["geoLoc"])
            for r in _rows(os.path.join(ind, "locations.parquet"))}
    regs = {r["location"].lower(): r["globalRegion"]
            for r in _rows(os.path.join(ind, "regions.parquet"))}
    best = {}
    for r in _rows(os.path.join(ind, "raw_credits.parquet")):
        notes = r["notes"].lower()
        assert notes.count(":") == 1 and "," not in notes and " - " not in notes
        role, search = (x.strip() for x in notes.split(":"))
        d, m, y = r["releaseDates"][0].split(" ")
        release = f"{int(y):04d}-{MONTHS[m.lower()]:02d}-{int(d):02d}"
        name = cmap.get(search)
        mapped = name is not None
        name = name if mapped else search
        if name.startswith("zzz_baddata"):
            continue
        k = (r["personId"], name, r["movieId"])
        order = (release, r["movieId"], role, search)
        if k not in best or order < best[k][0]:
            best[k] = (order, dict(person=r["personId"], pname=r["personName"],
                                   movie=r["movieId"], release=release, company=name,
                                   mapped=mapped, role=role))
    people = {}
    for _, c in best.values():
        c["true_role"] = rmap.get(c["role"].lower(), "")
        if c["true_role"].startswith("zzz_baddata"):
            c["true_role"] = ""
        loc, geo = locs.get(c["company"].lower(), (None, None))
        c["location"], c["geo"] = loc, geo
        c["region"] = regs.get(loc.lower()) if loc else None
        if c["mapped"] and geo and loc:
            people.setdefault(c["person"], []).append(c)
    for rels in people.values():
        rels.sort(key=lambda c: (c["release"], c["movie"]))
        for c in rels:
            dt = datetime.datetime.strptime(c["release"], "%Y-%m-%d").replace(
                tzinfo=datetime.timezone.utc)
            c["time_ms"] = int(dt.timestamp() * 1000)
            c["year"] = dt.year
    return people, locs, regs


def jumps_only(rels):
    return [c for i, c in enumerate(rels) if i == 0 or c["company"] != rels[i - 1]["company"]]


def trip_days(g1, g2):
    lat1, lon1 = map(float, g1.split(","))
    lat2, lon2 = map(float, g2.split(","))
    dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
    a = (math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1)) *
         math.cos(math.radians(lat2)) * math.sin(dlon / 2) ** 2)
    km = 6371 * 2 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
    return max(math.floor(km / 100), 1)


def with_dummies(kept):
    """(rel, seq, is_dummy, time_ms) in serving order."""
    out = []
    for i, c in enumerate(kept):
        out.append((c, 2 * i, False, c["time_ms"]))
        if i + 1 < len(kept):
            nxt = kept[i + 1]
            out.append((c, 2 * i + 1, True,
                        nxt["time_ms"] - trip_days(c["geo"], nxt["geo"]) * 86400000))
    return out


def density_totals(people):
    cube = {}
    for rels in people.values():
        for i, c in enumerate(rels):
            nxt = rels[i + 1] if i + 1 < len(rels) else None
            if nxt and c["year"] == nxt["year"] and c["company"] == nxt["company"]:
                continue
            end = c["year"] if nxt is None else max(c["year"], nxt["year"] - 1)
            for y in range(c["year"], end + 1):
                k = (c["company"], y, c["true_role"])
                cube[k] = cube.get(k, 0) + 1
    totals = {}
    for (company, y, role), n in cube.items():
        totals[(company, y)] = totals.get((company, y), 0) + (n if role != "" else 0)
    return [(c, y, n) for (c, y), n in totals.items()]


def envelope(people, locs, regs, ind):
    docs = []
    for pid in sorted(people):
        rels = []
        for c, seq, dummy, t in with_dummies(jumps_only(people[pid])):
            rels.append({"seq": seq, "dummy": dummy, "imdbMovieId": c["movie"],
                         "matchedCompanyName": c["company"], "movieReleaseYear": t,
                         "personMappedRole": c["true_role"], "region": c["location"],
                         "location": None if dummy else c["geo"]})
        docs.append({"id": pid, "name": people[pid][0]["pname"], "rels": rels})
    served = {}
    for rels in people.values():
        for c in rels:
            served[c["company"]] = min(served.get(c["company"], c["geo"]), c["geo"])
    regions = {}
    for loc, geo in locs.values():
        if loc.lower() in regs:
            p = (geo, regs[loc.lower()])
            regions[loc] = min(regions.get(loc, p), p)
    glob_regions = {r["region"]: r["coords"]
                    for r in _rows(os.path.join(ind, "global_regions.parquet"))}
    env = {"jumps": docs, "locations": served,
           "regions": {k: {"geoLoc": g, "globalRegion": r} for k, (g, r) in regions.items()},
           "globalRegions": glob_regions}
    return json.dumps(env, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def check_workforce(ind, o):
    people, locs, regs = replay(ind)
    with open(os.path.join(ind, "params.json")) as f:
        target = json.load(f)["csv_target"]
    kept = {p: jumps_only(rels) for p, rels in people.items()}
    con = _con()
    res = {}

    def jumps():
        want = [(c["person"], c["company"], t, dummy)
                for ks in kept.values() for c, _, dummy, t in with_dummies(ks)]
        got = con.execute("SELECT personId, company, time_ms, dummy FROM "
                          f"read_parquet('{o}/jumps/*.parquet')").fetchall()
        return _same(got, want)

    def csv():
        want = []
        for ks in kept.values():
            for i in range(len(ks) - 1):
                if ks[i + 1]["location"].lower() == target.lower():
                    c = ks[i]
                    want.append((c["pname"], c["true_role"], str(c["time_ms"]), c["company"],
                                 c["location"].lower(), c["region"]))
        got = con.execute(
            "SELECT person, coalesce(role, ''), date, company, location, region FROM "
            f"read_csv('{o}/jumps_csv/*.csv', header=true, all_varchar=true)").fetchall()
        return _same(got, want)

    def density():
        got = con.execute("SELECT company, year, total FROM "
                          f"read_parquet('{o}/density/*.parquet')").fetchall()
        return _same(got, density_totals(people))

    def env():
        lines = []
        for p in glob.glob(f"{o}/envelope/*.json"):
            with open(p) as f:
                lines += [json.loads(x)["envelope_json"] for x in f if x.strip()]
        if len(lines) != 1:
            return f"{len(lines)} envelope rows"
        return "ok" if lines[0] == envelope(people, locs, regs, ind) else "envelope differs"

    def paths():
        pairs = sum(len(ks) - 1 for ks in kept.values())
        kml = con.execute(f"SELECT count(*) FROM read_json('{o}/kml/*.json.gz')").fetchone()[0]
        pts = con.execute(
            f"SELECT count(*) FROM read_parquet('{o}/paths/*.parquet')").fetchone()[0]
        if kml != pairs or pts != 51 * pairs:
            return f"{kml} tracks and {pts} points for {pairs} moves"
        return "ok"

    for name, fn in [("jumps", jumps), ("jumps_csv", csv), ("density", density),
                     ("envelope", env), ("paths", paths)]:
        res[f"workforce.{name}"] = _guard(fn)
    return res


def check_graph(ind, o, oracles):
    con = _con()
    for t in ("lineitem", "orders", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{ind}/{t}.parquet')")
    res = {}
    for name, sql in sorted(oracles.items()):
        def one(name=name, sql=sql):
            want = con.execute(sql).fetchall()
            cols = [d[0] for d in con.description]
            got = con.execute(f"SELECT {', '.join(cols)} FROM "
                              f"read_parquet('{o}/{name}/*.parquet')").fetchall()
            return _same(got, want)
        res[f"graph.{name}"] = _guard(one)
    return res


# ------------------------------------------------------------------- corpus

def materialized(sql):
    """The same query with every non-recursive CTE materialized. Results do
    not change; DuckDB otherwise re-runs a CTE once per reference, which
    takes this oracle from about a second to most of a minute. A CTE whose
    text (up to the next CTE) reads its own name is left as it is."""
    names = re.findall(r"(?m)^,?\s?(\w+) AS \(", sql)
    keep = {n for n in names if re.search(rf"\b(FROM|JOIN) {n}\b", _body(sql, n))}
    return re.sub(r"(?m)^(,?\s?)(\w+) AS \(",
                  lambda m: m.group(0) if m.group(2) in keep
                  else f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def _body(sql, name):
    """The text of CTE `name`, up to the next top-level CTE."""
    m = re.search(rf"(?m)^,?\s?{name} AS \(", sql)
    nxt = re.search(r"(?m)^,?\s?\w+ AS (MATERIALIZED )?\(", sql[m.end():])
    return sql[m.end(): m.end() + nxt.start()] if nxt else sql[m.end():]


def check_corpus(ind, o, oracle):
    def one():
        con = _con()
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{ind}/documents.parquet')")
        want = con.execute(materialized(oracle)).fetchall()
        cols = [d[0] for d in con.description]
        got = con.execute(f"SELECT {', '.join(cols)} FROM read_parquet("
                          f"'{o}/shards/*/*.parquet', hive_partitioning=true)").fetchall()
        return _same(got, want)
    return {"corpus.shards": _guard(one)}
