"""The three workloads: data scale, set-up steps, client statement lists
and each statement's DuckDB twin, all drawn from one seed.

A plan is what the JVM harness runs; `twins` maps every statement text
the harness may execute to the DuckDB SQL that must return the same rows
(registered keys are twinned by their own `SparkEntry.oracleSql`, which
the harness reports back). Writes carry a list of DuckDB statements that
replay them on the twin tables.
"""
import datetime as dt
import random

# Per-workload constants. `tail_pct` is the highest percentile that still
# leaves at least ten read samples above it at the benchmark's run length;
# `warmup_passes` passes of the pacing client run (and are checked) before
# the measured window opens, so the window starts past the JIT's first
# pass, after the same work on a fast host and a slow one.
# Every workload has one read client, so that no read's latency depends
# on how it interleaves with another client's on the few cores of the host.
WORKLOADS = {
    "federated_read": {"sf": 0.01, "docs": 500, "vecs": 500, "tail_pct": 80,
                       "warmup_passes": 3},
    "pipeline_heavy": {"sf": 0.01, "docs": 500, "vecs": 500, "tail_pct": 75,
                       "warmup_passes": 0},
    "ingest_mix": {"sf": 0.01, "docs": 500, "vecs": 500, "tail_pct": 75,
                   "warmup_passes": 0},
}
SMOKE = {"sf": 0.001, "docs": 100, "vecs": 100}

# The paper's federated sources, as DuckDB views over the same parquet.
# `weatherny` is the document store `Mongo.registerCatalog` builds from
# events; `graft_orders` is the JDBC mirror `Jdbc.registerCatalog` fills.
TWIN_VIEWS = {
    "weatherny": """
      SELECT DATE '1995-01-02' + CAST(d0 - DATE '2024-01-01' AS INTEGER) AS day,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS awnd,
        CAST(count(*) AS DOUBLE) AS pgtm,
        CAST(count(DISTINCT user_id) AS DOUBLE) AS prcp,
        CAST(min(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS snow,
        CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS snwd,
        CAST(sum(user_id % 7) AS DOUBLE) AS tavg,
        CAST(max(user_id) AS DOUBLE) AS tmax,
        CAST(min(user_id) AS DOUBLE) AS tmin
      FROM (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d0,
              user_id, value FROM events)
      GROUP BY 1""",
    "graft_orders": """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
        CAST(o_orderdate AS DATE) AS od
      FROM orders WHERE o_orderkey < 5000""",
    "trinoweather": """
      SELECT CAST(s.sent AS BIGINT) AS sent, w.* FROM weatherny w,
        (SELECT unnest(range(1, 4)) AS sent) s""",
    "trinostock": """
      SELECT CAST(s.sent AS BIGINT) AS sent, od AS day,
        CAST(o_totalprice AS DOUBLE) AS price
      FROM graft_orders, (SELECT unnest(range(1, 3)) AS sent) s
      WHERE dayofweek(od) NOT IN (0, 6)""",
    "fed_lineitem": """
      SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        l_extendedprice, l_returnflag, CAST(l_shipdate AS DATE) AS l_shipdate
      FROM lineitem""",
}

LAKE = "graft_lake.lake"
MEASURES = "awnd, pgtm, prcp, snow, snwd, tavg, tmax, tmin"


def _day(rng, lo=(1995, 1, 3), span=30):
    return (dt.date(*lo) + dt.timedelta(days=rng.randrange(span))).isoformat()


# ---------------------------------------------------------------- federated

FEDERATED_SHAPES = ["q1", "q2", "q3", "q4", "q5", "m1", "m2", "m3",
                    "lake_point", "lake_range"]
# M1 and M2 have one text each, so every later use repeats; the other
# shapes repeat this often so that about half of all statements do
FEDERATED_REPEAT = 0.375


def _federated_statement(rng, shape, n_orders):
    """One new statement of a shape: (spark sql, duckdb twin)."""
    if shape == "q1":
        d, p = _day(rng, span=32), rng.randrange(0, 400) * 1000
        spark = f"""SELECT CAST(w._id AS DATE) AS day, o.O_ORDERKEY AS o_orderkey,
  CAST(o.O_TOTALPRICE AS DOUBLE) AS price, w.awnd, w.prcp, w.snow, w.snwd,
  w.tavg, w.tmax, w.tmin
FROM graft_mongo.weather.weatherny w
JOIN graft_jdbc.APP.GRAFT_ORDERS o ON w._id = o.O_ORDERDATE
WHERE o.O_ORDERDATE < DATE '{d}' AND o.O_TOTALPRICE > {p}
ORDER BY day, o_orderkey"""
        twin = f"""SELECT w.day, o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS price,
  w.awnd, w.prcp, w.snow, w.snwd, w.tavg, w.tmax, w.tmin
FROM weatherny w JOIN graft_orders o ON w.day = o.od
WHERE o.od < DATE '{d}' AND o.o_totalprice > {p} ORDER BY day, o_orderkey"""
    elif shape == "q2":
        d, k = _day(rng, span=28), rng.randrange(0, 120)
        body = f"""FROM {{w}} w LEFT OUTER JOIN {{a}} a ON w.day = a.day
WHERE a.day > DATE '{d}' AND w.prcp >= {k} ORDER BY 1, 2"""
        cols = "SELECT DISTINCT w.day, a.price, w.awnd, w.prcp, w.snow, w.snwd, w.tavg, w.tmax, w.tmin\n"
        spark = cols + body.format(w="trinoweather", a="trinostock")
        twin = cols + body.format(w="trinoweather", a="trinostock")
    elif shape == "q3":
        d, k = _day(rng, span=28), rng.randrange(200, 400)
        body = f"""SELECT DISTINCT day, {MEASURES} FROM {{w}}
WHERE day > DATE '{d}' AND pgtm >= {k} ORDER BY day"""
        spark, twin = body.format(w="trinoweather"), body.format(w="trinoweather")
    elif shape == "q4":
        d1, d2 = sorted([_day(rng, span=30), _day(rng, span=30)])
        body = f"""SELECT DISTINCT w.sent, w.day, a.price, w.awnd, w.prcp, w.tavg
FROM {{w}} w LEFT OUTER JOIN {{a}} a ON w.day = a.day
WHERE a.day > DATE '{d1}' AND w.day < DATE '{d2}' ORDER BY 2, 1, 3"""
        spark = body.format(w="trinoweather", a="trinostock")
        twin = body.format(w="trinoweather", a="trinostock")
    elif shape == "q5":
        d, s = _day(rng, span=30), rng.randrange(1, 4)
        body = f"""SELECT DISTINCT sent, day, {MEASURES} FROM {{w}}
WHERE day > DATE '{d}' AND sent <= {s} ORDER BY day, sent"""
        spark, twin = body.format(w="trinoweather"), body.format(w="trinoweather")
    elif shape == "m1":
        spark = "SHOW CATALOGS"
        twin = ("SELECT * FROM (VALUES ('graft_jdbc'), ('graft_lake'), "
                "('graft_mongo'), ('spark_catalog')) t(catalog) ORDER BY catalog")
    elif shape == "m2":
        spark = f"SHOW TABLES IN {LAKE}"
        twin = ("SELECT * FROM (VALUES ('lake', 'fed_lineitem', false)) "
                "t(namespace, tableName, isTemporary)")
    elif shape == "m3":
        k = rng.randrange(0, 4990)
        spark = f"""SELECT O_ORDERKEY AS o_orderkey, O_CUSTKEY AS o_custkey,
  O_ORDERSTATUS AS o_orderstatus, CAST(O_TOTALPRICE AS DOUBLE) AS o_totalprice,
  CAST(O_ORDERDATE AS DATE) AS o_orderdate
FROM graft_jdbc.APP.GRAFT_ORDERS WHERE O_ORDERKEY >= {k} ORDER BY o_orderkey LIMIT 5"""
        twin = f"""SELECT o_orderkey, o_custkey, o_orderstatus,
  CAST(o_totalprice AS DOUBLE) AS o_totalprice, od AS o_orderdate
FROM graft_orders WHERE o_orderkey >= {k} ORDER BY o_orderkey LIMIT 5"""
    elif shape == "lake_point":
        k = rng.randrange(0, n_orders)
        body = f"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
  l_extendedprice FROM {{t}} WHERE l_orderkey = {k}
ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_quantity"""
        spark, twin = body.format(t=f"{LAKE}.fed_lineitem"), body.format(t="fed_lineitem")
    else:
        a, w = rng.randrange(0, n_orders), rng.choice([10, 100, 1000])
        body = f"""SELECT l_returnflag, count(*) AS n,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  min(l_shipdate) AS first_ship
FROM {{t}} WHERE l_orderkey BETWEEN {a} AND {a + w}
GROUP BY l_returnflag ORDER BY l_returnflag"""
        spark, twin = body.format(t=f"{LAKE}.fed_lineitem"), body.format(t="fed_lineitem")
    return spark, twin


def federated_read(rng, rows, n_ops=4000):
    n_orders = rows["orders"]
    width = max(1, n_orders // 8)
    setup = {
        "catalogs": ["lake", "jdbc", "mongo"],
        "sql": [
            f"""CREATE TABLE {LAKE}.fed_lineitem (l_orderkey BIGINT,
  l_linenumber INT, l_partkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE,
  l_extendedprice DOUBLE, l_returnflag STRING, l_shipdate DATE)
TBLPROPERTIES ('shard_key'='l_orderkey', 'n_shards'='8', 'shard_width'='{width}')""",
            f"""INSERT INTO {LAKE}.fed_lineitem SELECT l_orderkey, l_linenumber,
  l_partkey, l_suppkey, l_quantity, l_extendedprice, l_returnflag,
  CAST(l_shipdate AS DATE) FROM parquet.`{{dir}}/lineitem.parquet`""",
            # the paper's two Kafka topics: every message re-sent (three and
            # two times), read through the document and JDBC connectors
            f"""CREATE OR REPLACE TEMPORARY VIEW trinoweather AS
SELECT CAST(r.sent AS BIGINT) AS sent, CAST(w._id AS DATE) AS day, {MEASURES}
FROM graft_mongo.weather.weatherny w
CROSS JOIN (SELECT explode(sequence(1, 3)) AS sent) r""",
            """CREATE OR REPLACE TEMPORARY VIEW trinostock AS
SELECT CAST(r.sent AS BIGINT) AS sent, CAST(O_ORDERDATE AS DATE) AS day,
  CAST(O_TOTALPRICE AS DOUBLE) AS price
FROM graft_jdbc.APP.GRAFT_ORDERS
CROSS JOIN (SELECT explode(sequence(1, 2)) AS sent) r
WHERE date_format(O_ORDERDATE, 'E') NOT IN ('Sat', 'Sun')""",
        ],
        "warm_keys": [],
    }
    twins, history, ops = {}, {}, []
    # the client cycles through all shapes in a fresh seeded order, so
    # each run has the same shape mix and the seed moves only literals
    # and which earlier statement a repeat names
    for _ in range(n_ops // len(FEDERATED_SHAPES)):
        shapes = FEDERATED_SHAPES[:]
        rng.shuffle(shapes)
        for shape in reversed(shapes):
            seen = history.setdefault(shape, [])
            if seen and (shape in ("m1", "m2") or rng.random() < FEDERATED_REPEAT):
                op = seen[rng.randrange(len(seen))]
            else:
                spark, twin = _federated_statement(rng, shape, n_orders)
                twins[spark] = twin
                op = {"cls": "read", "shape": shape, "sql": spark}
                seen.append(op)
            ops.append(op)
    # the window holds whole rounds of the ten shapes
    plan = {"setup": setup,
            "clients": [{"name": "c0", "ops": ops, "whole_passes": len(FEDERATED_SHAPES)}]}
    return plan, twins, {}


# ---------------------------------------------------------------- pipeline

PIPELINE_KEYS = [
    "dedup_ngram_jaccard", "dedup_substring_spans", "dedup_minhash_lsh",
    "cluster_mutual_knn", "embedding_kmeans", "q21_suppliers_waiting",
    "q5_local_supplier", "q2_min_cost_supplier",
]
# `ann_pq_adc` and `search_indexed_wand` are left out: each call reads
# index state (PQ codebooks, the persisted text index) that the first call
# in a JVM builds, so a timed call would measure a memo, not the verb.
# `cluster_mutual_knn` reads the IVF centroid memo; set-up builds it
# through `ann_ivf_centroid_topk` so the timed calls never do.
PIPELINE_WARM = ["ann_ivf_centroid_topk"]


def pipeline_heavy(rng, rows, passes=100):
    ops = []
    for _ in range(passes):
        keys = PIPELINE_KEYS[:]
        rng.shuffle(keys)
        ops += [{"cls": "read", "shape": k, "key": k} for k in keys]
    plan = {"setup": {"catalogs": ["lake"], "sql": [], "warm_keys": PIPELINE_WARM},
            # a run measures whole passes, so every key is in every run
            "clients": [{"name": "c0", "ops": ops, "whole_passes": len(PIPELINE_KEYS)}]}
    return plan, {}, {}


# ---------------------------------------------------------------- ingest

INGEST_TABLES = {
    # copy-on-write, range-clustered on event_id so range scans prune
    "bench_cow": "'shard_key'='event_id', 'n_shards'='8', 'shard_width'='{w}'",
    # merge-on-read for every row-level command, hash-sharded on user_id
    "bench_mor": ("'shard_key'='user_id', 'n_shards'='8', "
                  "'delete_mode'='merge-on-read', 'update_mode'='merge-on-read', "
                  "'merge_mode'='merge-on-read'"),
}
INGEST_COLS = "(event_id BIGINT, user_id BIGINT, cents BIGINT, d DATE)"
EV_ROW = ("CAST(round(value * 100) AS BIGINT) AS cents, "
          "CAST(ts AS DATE) AS d")
STREAM_KEYS = ["stream_lake_sink", "stream_lake_upsert_eq",
               "stream_stream_left_join"]


class _Cycle:
    """Draws items in seeded order, each exactly once per round, so every
    run has the same mix and the seed moves only the order and literals."""

    def __init__(self, rng, items):
        self.rng, self.items, self.left = rng, list(items), []

    def next(self):
        if not self.left:
            self.left = self.items[:]
            self.rng.shuffle(self.left)
        return self.left.pop()


WRITE_KINDS = [(t, k) for t in sorted(INGEST_TABLES)
               for k in ["insert", "insert", "merge", "delete", "update"]]
READ_KINDS = [("bench_cow", "range")] * 2 + [
    (t, k) for t in sorted(INGEST_TABLES) for k in ["point", "count", "travel"]]


def _ingest_write(rng, t, kind, i, n_ev, n_users):
    if kind == "insert":
        off, r = n_ev * (i + 1), rng.randrange(97)
        src = f"""SELECT event_id + {off} AS event_id, user_id, {EV_ROW}
FROM {{ev}} WHERE event_id % 97 = {r}"""
        spark = f"INSERT INTO {LAKE}.{t} " + src.format(ev="parquet.`{dir}/events.parquet`")
        duck = [f"INSERT INTO {t} " + src.format(ev="events")]
    elif kind == "merge":
        r, delta = rng.randrange(89), rng.randrange(1, 1000)
        src = f"""SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) + {delta}
  AS cents, CAST(ts AS DATE) AS d FROM {{ev}} WHERE event_id % 89 = {r}"""
        spark = f"""MERGE INTO {LAKE}.{t} t
USING ({src.format(ev="parquet.`{dir}/events.parquet`")}) s
ON t.event_id = s.event_id
WHEN MATCHED THEN UPDATE SET cents = s.cents
WHEN NOT MATCHED THEN INSERT (event_id, user_id, cents, d)
  VALUES (s.event_id, s.user_id, s.cents, s.d)"""
        s = src.format(ev="events")
        duck = [f"UPDATE {t} SET cents = s.cents FROM ({s}) s WHERE {t}.event_id = s.event_id",
                f"INSERT INTO {t} SELECT * FROM ({s}) s "
                f"WHERE s.event_id NOT IN (SELECT event_id FROM {t})"]
    elif kind == "delete":
        u, r = rng.randrange(n_users), rng.randrange(3)
        cond = f"WHERE user_id = {u} AND event_id % 3 = {r}"
        spark, duck = f"DELETE FROM {LAKE}.{t} {cond}", [f"DELETE FROM {t} {cond}"]
    else:
        u, k = rng.randrange(n_users), rng.randrange(1, 100)
        body = f"SET cents = cents + {k} WHERE user_id = {u}"
        spark, duck = f"UPDATE {LAKE}.{t} {body}", [f"UPDATE {t} {body}"]
    return {"cls": "write", "shape": f"{kind}", "sql": spark,
            "publishes": [t], "check": False}, duck


def _ingest_read(rng, t, kind, n_ev, n_users):
    if kind == "point":
        u = rng.randrange(n_users)
        body = f"""SELECT event_id, user_id, cents, d FROM {{t}}
WHERE user_id = {u} ORDER BY event_id"""
    elif kind == "range":
        a, w = rng.randrange(n_ev), rng.choice([50, 500])
        body = f"""SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
  min(d) AS d0, max(d) AS d1 FROM {{t}} WHERE event_id BETWEEN {a} AND {a + w}"""
    elif kind == "count":
        body = "SELECT count(*) AS n FROM {t}"
    else:
        u = rng.randrange(n_users)
        body = f"""SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
FROM {{t}} WHERE user_id BETWEEN {u} AND {u + 5} GROUP BY user_id ORDER BY user_id"""
    back = "-3" if kind == "travel" else ""
    spark = body.format(t=f"{LAKE}.{t} VERSION AS OF {{v{back}:{t}}}")
    return {"cls": "read", "shape": f"{kind}_{t}", "sql": spark, "table": t}, \
        body.format(t=t)


def ingest_mix(rng, rows, cycles=200, reads=6000):
    n_ev = rows["events"]
    n_users = max(1, rows["customer"] // 10)
    setup_sql = []
    for t, props in INGEST_TABLES.items():
        setup_sql += [
            f"CREATE TABLE {LAKE}.{t} {INGEST_COLS} TBLPROPERTIES ("
            + props.format(w=max(1, n_ev // 8)) + ")",
            f"""INSERT INTO {LAKE}.{t} SELECT event_id, user_id, {EV_ROW}
FROM parquet.`{{dir}}/events.parquet` WHERE event_id % 2 = 0"""]
    # one writer cycle: every write kind on both tables once, in seeded
    # order, with the three stream replays spread through it; the window
    # holds whole cycles
    writer, replay = [], {}
    wkinds = _Cycle(rng, WRITE_KINDS)
    per_stream = len(WRITE_KINDS) // len(STREAM_KEYS)
    for c in range(cycles):
        for i in range(len(WRITE_KINDS)):
            op, duck = _ingest_write(rng, *wkinds.next(), c * len(WRITE_KINDS) + i,
                                     n_ev, n_users)
            writer.append(op)
            replay[op["sql"]] = duck
            if (i + 1) % per_stream == 0 and (i + 1) // per_stream <= len(STREAM_KEYS):
                k = STREAM_KEYS[(i + 1) // per_stream - 1]
                writer.append({"cls": "write", "shape": k, "key": k})
    reader, twins = [], {}
    rkinds = _Cycle(rng, READ_KINDS)
    for _ in range(reads):
        op, twin = _ingest_read(rng, *rkinds.next(), n_ev, n_users)
        reader.append(op)
        twins[op["sql"]] = twin
    plan = {
        "setup": {"catalogs": ["lake"], "sql": setup_sql,
                  "warm_keys": ["stream_lake_sink"]},
        "pinned_tables": sorted(INGEST_TABLES),
        "clients": [{"name": "writer", "ops": writer,
                     "whole_passes": len(WRITE_KINDS) + len(STREAM_KEYS)},
                    {"name": "reader0", "ops": reader}],
        "final_checks": [
            {"table": t, "sql": f"SELECT event_id, user_id, cents, d FROM {LAKE}.{t} "
                                f"VERSION AS OF {{v:{t}}} ORDER BY event_id"}
            for t in sorted(INGEST_TABLES)],
    }
    initial = {t: f"CREATE TABLE {t} AS SELECT event_id, user_id, {EV_ROW} "
                  f"FROM events WHERE event_id % 2 = 0" for t in INGEST_TABLES}
    return plan, twins, {"replay": replay, "initial": initial}


BUILDERS = {"federated_read": federated_read, "pipeline_heavy": pipeline_heavy,
            "ingest_mix": ingest_mix}


def build(workload, seed, rows):
    """(plan, twins, extra) for one workload; same seed, same plan."""
    rng = random.Random(f"{workload}:{seed}")
    return BUILDERS[workload](rng, rows)
