"""Output checks that run after the timed region.

* ``landmark_stats`` recomputes every stat CSV of a pipeline run with DuckDB
  from the written ``predictions/`` and ``colors/`` plus the label and name
  CSVs, and compares them with the files the pipeline wrote.
* ``oracle`` runs the repository's DuckDB oracle compare (tools/compare.py)
  on the query results the harness dumped.
"""
import os
import re
import subprocess
import sys

CITIES = ["New York", "Los Angeles", "Detroit", "Paris", "Berlin", "Warsaw"]
PRIMARIES = [(255, 0, 0), (0, 255, 0), (0, 0, 255),
             (0, 255, 255), (255, 255, 0), (255, 0, 255)]


def _safe_div(num, den):
    return num / den if den else 0.0


def expected_stats(out, labels, names, classes):
    """{relative csv path: (header, [(key, value)])} recomputed from scratch."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"CREATE VIEW labels AS SELECT * FROM read_csv('{labels}', delim=';', header=true, all_varchar=true)")
    con.execute(f"CREATE VIEW names AS SELECT * FROM read_csv('{names}', delim=';', header=true, all_varchar=true)")
    con.execute(f"CREATE VIEW preds AS SELECT * FROM read_parquet('{out}/predictions/*.parquet')")
    con.execute(f"CREATE VIEW colors AS SELECT * FROM read_parquet('{out}/colors/*.parquet')")
    # per landmark: distinct images, and per class the summed count; a
    # landmark is in the rollup only if some image has a detection
    per_img = con.execute("""
        SELECT l.landmark_id, p.id, unnest(map_keys(p.predictions)) AS cls,
               unnest(map_values(p.predictions)) AS cnt
        FROM preds p JOIN labels l ON p.id = l.id""").fetchall()
    images = dict(con.execute("""
        SELECT l.landmark_id, count(DISTINCT p.id) FROM preds p JOIN labels l ON p.id = l.id
        GROUP BY 1""").fetchall())
    name = dict(con.execute("SELECT landmark_id, name FROM names").fetchall())
    sums = {}
    for lid, _, cls, cnt in per_img:
        sums.setdefault(lid, {}).setdefault(cls, 0)
        sums[lid][cls] += cnt
    rollup = [(lid, images[lid], sums[lid]) for lid in sums if lid in name]

    def grouped(key, cls):
        acc = {}
        for lid, n_img, s in rollup:
            for k in key(name[lid]):
                c, n = acc.get(k, (0, 0))
                acc[k] = (c + s.get(cls, 0), n + n_img)
        return dict(sorted(acc.items()))

    def band(n):
        return ["under_10_chars" if len(n) < 10 else
                "between_10_and_20_chars" if len(n) <= 20 else "over_20_chars"]

    want = {}
    for cls in classes:
        letters = grouped(lambda n: [n[:1].upper()], cls)
        want[f"alphabet_count/{cls}.csv"] = (["letter", "count"],
                                             [(k, c) for k, (c, n) in letters.items()])
        want[f"alphabet_count_avg/{cls}.csv"] = (["letter", "avg_count"],
                                                 [(k, _safe_div(c, n)) for k, (c, n) in letters.items()])
        cities = grouped(lambda n: [c for c in CITIES if c in n], cls)
        want[f"avg_obj_per_city/{cls}.csv"] = (["city", "avg_detections"],
                                               [(k, _safe_div(c, n)) for k, (c, n) in cities.items()])
        bands = grouped(band, cls)
        want[f"dogs_by_name_length/{cls}.csv"] = (["length_of_landmark_name", "avg_detections"],
                                                  [(k, _safe_div(c, n)) for k, (c, n) in bands.items()])
    cls = classes[0]
    allp = grouped(lambda n: ["all"], cls).get("all", (0, 0))
    ppl = grouped(lambda n: ["p"] if "people" in n.lower() else [], cls).get("p", (0, 0))
    want[f"people_in_places_with_people/{cls}.csv"] = (
        ["files considered", "avg_detections"],
        [("avg_all", _safe_div(*allp)), ("avg_people_places", _safe_div(*ppl))])
    dom = con.execute("""SELECT dominantColor, count(*) FROM colors GROUP BY 1""").fetchall()
    want["dominant_count/results.csv"] = (
        ["dominant_color", "count"],
        [("[" + ", ".join(map(str, k)) + "]", n) for k, n in sorted(dom)])
    prim = dict(con.execute("SELECT closestPrimary, count(*) FROM colors GROUP BY 1").fetchall())
    want["closest_primary/results.csv"] = (
        ["primary_color", "count"],
        [("[" + ", ".join(map(str, p)) + "]", prim.get(i, 0)) for i, p in enumerate(PRIMARIES)])
    return want


def landmark_stats(out, labels, names, classes):
    """Messages for every stat file that differs from the recomputation."""
    bad = []
    for rel, (header, rows) in expected_stats(out, labels, names, classes).items():
        path = os.path.join(out, "stats", rel)
        if not os.path.exists(path):
            bad.append(f"{rel}: missing")
            continue
        lines = open(path).read().splitlines()
        got = [tuple(l.split(";", 1)) for l in lines[1:]]
        if lines[0].split(";") != header or len(got) != len(rows):
            bad.append(f"{rel}: header or row count differs")
            continue
        for (gk, gv), (wk, wv) in zip(got, rows):
            if gk != wk or abs(float(gv) - wv) > 1e-9 * max(1.0, abs(wv)):
                bad.append(f"{rel}: row {gk};{gv} != {wk};{wv}")
                break
    return bad


def oracle(root, tables, verify_dir, names):
    """Names of queries whose dumped result fails the DuckDB oracle."""
    if not names:
        return {}
    res = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "compare.py"), "--only", ",".join(names),
         tables, verify_dir], capture_output=True, text=True, timeout=120)
    fails = {}
    for line in res.stdout.splitlines():
        m = re.match(r"FAIL (\S+): (.*)", line)
        if m:
            fails[m.group(1)] = m.group(2)
    ok = set(re.findall(r"^ok\s+(\S+)", res.stdout, re.M))
    for n in names:
        if n not in ok and n not in fails:
            fails[n] = "no verdict from compare.py"
    return fails
