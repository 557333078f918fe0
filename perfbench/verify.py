"""DuckDB check of a harness run: every distinct statement's first
result must hash equal to its twin's rows on the same parquet.

Rows are canonicalised the way `tools/check.py` does it (columns sorted
by name, values through its `canon`), then hashed; a mismatch, an
unreadable result or a twin that errors fails the statement.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

from workloads import TWIN_VIEWS

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check  # noqa: E402  (the repository's oracle canonicalisation)
    return check


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    for name, sql in TWIN_VIEWS.items():
        con.execute(f"CREATE VIEW {name} AS {sql}")
    return con


def rows_hash(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]


def spark_results(check, con, results_dir):
    """{stmt id: (cols, rows)} from the harness's per-shape parquet."""
    out = {}
    for d in sorted(glob.glob(os.path.join(results_dir, "*"))):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            continue
        flist = "[" + ",".join(f"'{f}'" for f in files) + "]"
        cur = con.execute(f"SELECT * FROM read_parquet({flist}) ORDER BY __stmt, __row")
        names = [c[0] for c in cur.description]
        keep = sorted((i for i, n in enumerate(names) if n not in ("__stmt", "__row")),
                      key=lambda i: names[i])
        si = names.index("__stmt")
        for r in cur.fetchall():
            cols, rows = out.setdefault(r[si], ([names[i] for i in keep], []))
            rows.append(tuple(check.canon(r[i]) for i in keep))
    return out


def twin_hash(check, con, sql):
    cols, rows = check.fetch(con, sql)
    return rows_hash(cols, rows), len(rows)


def compare(expected, actual):
    """Statement ids whose hashes differ; a missing side is a mismatch."""
    return sorted(k for k in set(expected) | set(actual)
                  if expected.get(k) is None or expected.get(k) != actual.get(k))


def verify_run(root, out_dir, data_dir, stmts, twins, summary, extra):
    """Returns (expected, actual, notes): twin and engine hash per stmt id."""
    check = _check_module(root)
    con = connect(data_dir)
    got = spark_results(check, con, os.path.join(out_dir, "results"))
    actual = {k: rows_hash(*v) for k, v in got.items()}
    expected, notes = {}, []
    oracles = summary.get("oracles", {})
    pinned = []
    for s in stmts:
        if not s["check"]:
            continue
        if s["id"] not in actual:  # an empty result writes no rows
            actual[s["id"]] = rows_hash(*_empty_like(check, con, s, twins, oracles))
        if s["tmpl"].startswith("key:"):
            sql = oracles.get(s["tmpl"][4:])
        else:
            sql = twins.get(s["tmpl"])
        if sql is None:
            notes.append(f"{s['id']}: no twin")
            continue
        if s["pins"]:
            pinned.append((s, sql))
            continue
        try:
            expected[s["id"]] = twin_hash(check, con, sql)[0]
        except Exception as e:  # noqa: BLE001 - any twin error fails the stmt
            notes.append(f"{s['id']}: twin error {e}")
    if extra.get("replay") is not None:
        _replay(check, con, out_dir, data_dir, summary, extra, pinned,
                expected, actual, notes)
    return expected, actual, notes


def _empty_like(check, con, s, twins, oracles):
    # the engine returned no rows; compare as an empty result whose
    # columns are the twin's
    sql = oracles.get(s["tmpl"][4:]) if s["tmpl"].startswith("key:") else twins.get(s["tmpl"])
    try:
        cols, _ = check.fetch(con, f"SELECT * FROM ({sql}) LIMIT 0")
    except Exception:  # noqa: BLE001
        cols = []
    return cols, []


def _replay(check, con, out_dir, data_dir, summary, extra, pinned,
            expected, actual, notes):
    """Replays the writer's committed statements on DuckDB twin tables and
    evaluates each pinned read at the version it read."""
    ops = [json.loads(line) for line in open(os.path.join(out_dir, "ops.jsonl"))]
    writer = sorted((o for o in ops if o["client"] == "writer"),
                    key=lambda o: int(o["id"].rsplit("-", 1)[1]))
    replay = {k.replace("{dir}", data_dir): v for k, v in extra["replay"].items()}
    finals = {f["table"]: f for f in summary.get("finals", [])}
    for t, create in extra["initial"].items():
        con.execute(f"DROP TABLE IF EXISTS {t}")
        con.execute(create)
        want = {}
        for s, sql in pinned:
            if t in s["pins"]:
                want.setdefault(s["pins"][t], []).append((s, sql))
        v = summary["base_versions"][t]

        def evaluate(version):
            for s, sql in want.pop(version, []):
                try:
                    expected[s["id"]] = twin_hash(check, con, sql)[0]
                except Exception as e:  # noqa: BLE001
                    notes.append(f"{s['id']}: twin error {e}")
        evaluate(v)
        for o in writer:
            if not o["ok"] or t not in o["pins"] or o["stmt"] not in replay:
                continue
            for q in replay[o["stmt"]]:
                con.execute(q)
            v = o["pins"][t]
            evaluate(v)
        for version, left in want.items():
            notes.append(f"{t}: {len(left)} reads pinned at unreplayed version {version}")
        f = finals.get(t)
        if f is not None:
            key = f"final_{t}"
            files = sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))
            flist = "[" + ",".join(f"'{x}'" for x in files) + "]"
            actual[key] = rows_hash(*check.fetch(con, f"SELECT * FROM read_parquet({flist}) "
                                                      "ORDER BY event_id")) if files \
                else rows_hash(*check.fetch(con, f"SELECT * FROM {t} LIMIT 0"))
            if f["version"] != v:
                notes.append(f"{t}: final version {f['version']} != replayed {v}")
            expected[key] = rows_hash(*check.fetch(con, f"SELECT * FROM {t} ORDER BY event_id"))
