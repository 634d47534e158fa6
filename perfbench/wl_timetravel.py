"""timetravel_query: the query service — snapshot, SPARQL and triple
diff requests at past timestamps, one client, closed loop.

The store is the union of two changelogs: one derived from an events
table by ``sources.relational.changelog_from_events`` (single-line
graphs), and one of multi-line Turtle graphs written once at setup
through ``operators.versioned.append_updates`` in the days(ts) layout.
Requests draw ``ts`` from a fixed pool skewed to recent times."""

from __future__ import annotations

import math
import os
import random
import time
from datetime import datetime

import gen
from harness import dir_stats, md5_60_col, median, percentile

# events at the sf0.1 scale of the test data (full) and at sf0.001 (tiny)
SIZES = {
    "full": {"n_events": 100_000, "n_users": 1_500, "n_graphs": 500, "pool": 8},
    "tiny": {"n_events": 1_000, "n_users": 15, "n_graphs": 40, "pool": 4},
}
# request mix, as a fixed cycle so every run sees the same proportions:
# 40 % snapshot, 40 % SPARQL, 20 % triple diff
CYCLE = ("snapshot", "sparql", "diff", "snapshot", "sparql")
OPS = ("snapshot", "sparql", "diff")

PFX = "PREFIX ex: <http://ex.org/voc#> PREFIX dct: <http://purl.org/dc/terms/> "


def _pool(n: int) -> list[str]:
    """Probe timestamps, dense near the end of the history: t_k =
    end - span * (k / n)^2 for k = 0..n-1 (whole seconds plus .5 s, so
    no probe coincides with a version time)."""
    end = gen.SPAN_S - 1
    secs = [int(end - gen.SPAN_S * 0.97 * (k / n) ** 2) for k in range(n)]
    return [gen.ts_str(gen.T0 + gen.timedelta(seconds=s)) + ".5" for s in secs]


def _pool_order(n: int, length: int = 64) -> list[int]:
    """The fixed order in which requests visit the pool: index k recurs
    with frequency ~ 1/(k+1), so recent times dominate and early ones
    are rare. Fixed rather than drawn, so every run (every seed) puts the
    same load on the cache tiers."""
    order, credit = [], [0.0] * n
    for _ in range(length):
        for k in range(n):
            credit[k] += 1.0 / (k + 1)
        k = max(range(n), key=lambda j: credit[j])
        credit[k] -= sum(1.0 / (j + 1) for j in range(n))
        order.append(k)
    return order


def _parse_ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")


# ---------------------------------------------------------------------------
# SPARQL templates: (name, query(K), expected(state, K), K range)


def _q_bgp(k):
    return PFX + f"SELECT ?d ?r WHERE {{ ?d ex:publisher <{gen.ORG}{k}> . ?d ex:rank ?r }}"


def _e_bgp(state, k):
    return [(f"{gen.DS}{g.i}", str(gen.rank(g.i, g.v))) for g in state.values() if gen.publisher(g.i, g.v) == k]


def _q_optional(k):
    return PFX + f"SELECT ?d ?n WHERE {{ ?d ex:theme <{gen.THEME}{k}> OPTIONAL {{ ?d ex:note ?n }} }}"


def _e_optional(state, k):
    return [
        (f"{gen.DS}{g.i}", f"note {g.i}.{g.v}" if gen.has_note(g.i, g.v) else None)
        for g in state.values()
        if gen.theme(g.i, g.v) == k
    ]


def _q_filter(k):
    return PFX + f"SELECT ?d ?r WHERE {{ ?d ex:rank ?r FILTER (?r >= {k} && ?r < {k + 25}) }}"


def _e_filter(state, k):
    return [
        (f"{gen.DS}{g.i}", str(gen.rank(g.i, g.v)))
        for g in state.values()
        if k <= gen.rank(g.i, g.v) < k + 25
    ]


def _q_group(k):
    return PFX + (
        f"SELECT ?th (COUNT(?d) AS ?n) WHERE {{ ?d ex:publisher <{gen.ORG}{k}> . "
        "?d ex:theme ?th } GROUP BY ?th"
    )


def _e_group(state, k):
    counts: dict[str, int] = {}
    for g in state.values():
        if gen.publisher(g.i, g.v) == k:
            th = f"{gen.THEME}{gen.theme(g.i, g.v)}"
            counts[th] = counts.get(th, 0) + 1
    return [(th, str(n)) for th, n in counts.items()]


def _q_path(k):
    return PFX + f"SELECT ?x WHERE {{ <{gen.DS}{k}> ex:next+ ?x }}"


def _e_path(state, k):
    out, i = [], k
    while i in state and (i + 1) % gen.CHAIN_BLOCK:
        i += 1
        out.append((f"{gen.DS}{i}",))
    return out


def _q_lang(k):
    return PFX + (
        f"SELECT ?d ?t WHERE {{ ?d ex:publisher <{gen.ORG}{k}> . ?d dct:title ?t "
        'FILTER (lang(?t) = "en") }'
    )


def _e_lang(state, k):
    return [
        (f"{gen.DS}{g.i}", f"Dataset {g.i} v{g.v}")
        for g in state.values()
        if g.rich and gen.publisher(g.i, g.v) == k
    ]


def templates(n_graphs: int):
    return [
        ("bgp_join", _q_bgp, _e_bgp, gen.N_ORGS),
        ("optional", _q_optional, _e_optional, gen.N_THEMES),
        ("filter", _q_filter, _e_filter, 975),
        ("group_by", _q_group, _e_group, gen.N_ORGS),
        ("path", _q_path, _e_path, n_graphs),
        ("lang", _q_lang, _e_lang, gen.N_ORGS),
    ]


def _rows(rows) -> list[tuple]:
    return sorted((tuple(None if v is None else str(v) for v in r) for r in rows), key=repr)


# ---------------------------------------------------------------------------


class Workload:
    name = "timetravel_query"
    min_ops = len(CYCLE)
    nominal_op_s = 2.0  # a request's typical wall on a 4-core host

    def __init__(self, work_dir: str, seed: int, size: str):
        self.dir = work_dir
        self.seed = seed
        self.size = SIZES[size]
        self.pool = _pool(self.size["pool"])
        self.order = _pool_order(self.size["pool"])
        self.n_ts = 0
        self.templates = templates(self.size["n_graphs"])
        self.rng = random.Random(seed * 31 + 7)
        self.levels: list[tuple[str, str, float]] = []  # (kind, cache level, wall)
        self.n_snap = 0  # rows of the probed snapshot
        self.props: dict[str, float] = {}
        self.expect_wrong = False  # test hook: corrupt one expected answer

    # -- setup ---------------------------------------------------------------
    def generate(self, spark) -> None:
        """Write the inputs: the events file and the Turtle changelog
        (through append_updates, days(ts)-partitioned)."""
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.operators.versioned import append_updates, with_day_partition
        from rdf_diff_store_spark.schemas import CHANGELOG

        s = self.size
        events = gen.events_table(self.seed, s["n_events"], s["n_users"])
        gen.write_events_parquet(os.path.join(self.dir, "events.parquet"), events)
        self.turtle = gen.turtle_changelog(self.seed, s["n_graphs"])
        updates = spark.createDataFrame(
            self.turtle.updates, "graph_id string, ts string, op string, payload string, format string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        empty = spark.createDataFrame([], CHANGELOG)
        log = with_day_partition(append_updates(empty, updates))
        log.repartition("day").write.partitionBy("day").mode("overwrite").parquet(os.path.join(self.dir, "turtle_log"))

    def open(self, spark, tracer) -> None:
        """Open the store: the union of both changelogs, behind a
        fresh three-tier SnapshotCache."""
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.operators.caching import SnapshotCache
        from rdf_diff_store_spark.operators.versioned import with_day_partition
        from rdf_diff_store_spark.sources.relational import changelog_from_events

        self.spark = spark
        self.tracer = tracer
        spark.catalog.clearCache()  # a reopened store starts cold
        turtle_log = spark.read.parquet(os.path.join(self.dir, "turtle_log"))
        events_log = changelog_from_events(spark, self.dir).withColumn("ts", F.col("ts").cast("timestamp"))
        self.store = turtle_log.unionByName(with_day_partition(events_log))
        self.cache = SnapshotCache(self.store)
        self.levels = []
        self.n_ts = self.n_sparql = 0

    def expectations(self) -> None:
        """Expected answers: the events part from DuckDB over the same
        file (CHANGELOG_FROM_EVENTS_SQL + the oracle snapshot SQL), the
        Turtle part from the generator's own model."""
        import duckdb

        from __spark_entry__ import _snapshot_sql

        con = duckdb.connect()
        path = os.path.join(self.dir, "events.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        self.ev_state: dict[str, dict[str, tuple[str, str]]] = {}
        self.tt_state: dict[str, dict[int, gen.Graph]] = {}
        for t in self.pool:
            rows = con.execute(_snapshot_sql(t)).fetchall()
            self.ev_state[t] = {gid: (payload, h) for gid, payload, h in rows}
            self.tt_state[t] = self.turtle.state_at(_parse_ts(t))
        con.close()
        n_rows = len(self.turtle.updates)
        adds = [u for u in self.turtle.updates if u[2] == "add"]
        self.props = {
            "input.graphs": float(self.size["n_graphs"] + self.size["n_users"]),
            "input.turtle_graphs": float(self.size["n_graphs"]),
            "input.events": float(self.size["n_events"]),
            "input.turtle_versions": float(n_rows),
            "input.tombstone_share": 1 - len(adds) / n_rows,
            "input.triples_per_doc": median(
                [len(g.triples()) for v in self.turtle.history.values() for _, g in v if g]
            ),
            "turtle.fast_path_eligible_share": sum(
                gen.fast_path_eligible(g) for v in self.turtle.history.values() for _, g in v if g
            ) / len(adds),
            "input.store_mb": (
                dir_stats(os.path.join(self.dir, "turtle_log"))[0]
                + os.path.getsize(os.path.join(self.dir, "events.parquet"))
            ) / 2**20,
        }

    # -- requests ------------------------------------------------------------
    def _ts(self) -> str:
        self.n_ts += 1
        return self.pool[self.order[self.n_ts % len(self.order)]]

    def _expected_snapshot(self, t: str):
        ev = [gen.md5_60(f"{gid}\x1f{h}") for gid, (_, h) in self.ev_state[t].items()]
        tt = [gen.md5_60(f"{g.graph_id}\x1f{gen.content_hash(g)}") for g in self.tt_state[t].values()]
        out = {"e": (len(ev), sum(ev)), "t": (len(tt), sum(tt))}
        if self.expect_wrong:
            out["t"] = (out["t"][0] + 1, out["t"][1])
        return {k: v for k, v in out.items() if v[0]}

    def _expected_diff(self, t1: str, t2: str):
        def ev_triples(state, gid):
            if gid not in state:
                return set()
            user = gid.split(":", 1)[1]
            cents = state[gid][0].rsplit('"', 2)[1]
            return {(f"http://ex.org/user/{user}", "http://ex.org/value", cents, gen.XSD + "string", "")}

        def tt_triples(state, i):
            g = state.get(i)
            if g is None:
                return set()
            out = set()
            for s, p, o in g.triples():
                if o[0] == "iri":
                    out.add((s, p, o[1], "", ""))
                else:
                    _, lex, dt, lang = o
                    out.add((s, p, lex, "" if lang else (dt or gen.XSD + "string"), lang or ""))
            return out

        acc: dict[tuple[str, str], list[int]] = {}

        def add(part, gid, t1s, t2s):
            for change, rows in (("added", t2s - t1s), ("removed", t1s - t2s)):
                for r in rows:
                    a = acc.setdefault((part, change), [0, 0])
                    a[0] += 1
                    a[1] += gen.md5_60("\x1f".join((gid, *r, change)))

        e1, e2 = self.ev_state[t1], self.ev_state[t2]
        for gid in set(e1) | set(e2):
            h1, h2 = e1.get(gid, (None, None))[1], e2.get(gid, (None, None))[1]
            if h1 != h2:
                add("e", gid, ev_triples(e1, gid), ev_triples(e2, gid))
        s1, s2 = self.tt_state[t1], self.tt_state[t2]
        for i in set(s1) | set(s2):
            g1, g2 = s1.get(i), s2.get(i)
            if g1 != g2:
                add("t", gen.graph_id(i), tt_triples(s1, i), tt_triples(s2, i))
        return {k: tuple(v) for k, v in acc.items()}

    @staticmethod
    def _fingerprint(df, key_cols, group_cols=()):
        """{(part, *group_cols): (rows, hash)}: the part is "e" for the
        events changelog's graphs, "t" for the Turtle ones."""
        from pyspark.sql import functions as F

        part = F.when(F.col("graph_id").startswith("user:"), "e").otherwise("t").alias("part")
        rows = (
            df.select(part, md5_60_col(key_cols).alias("h"), *group_cols)
            .groupBy("part", *group_cols)
            .agg(F.count("*").alias("n"), F.sum("h").alias("h"))
            .collect()
        )
        return {tuple(r)[:-2]: (r.n, int(r.h)) for r in rows}

    def _snapshot(self, t: str):
        snap = self.cache.snapshot(t)
        level = self.cache.last_level
        return level, {k[0]: v for k, v in self._fingerprint(snap, ("graph_id", "content_hash")).items()}

    def _sparql(self, t: str, q: str):
        from rdf_diff_store_spark.functions.turtle import parse_triples
        from rdf_diff_store_spark.plans.sparql_text import sparql_query

        rows = self.cache.query(t, q, lambda snap: sparql_query(parse_triples(snap), q))
        return self.cache.last_level, rows

    def _diff(self, t1: str, t2: str):
        from rdf_diff_store_spark.operators.versioned import diff

        d = diff(self.store, t1, t2, on_triples=True)
        key = ("graph_id", "subj", "pred", "obj", "obj_dt", "obj_lang", "change")
        return "Nothing", self._fingerprint(d, key, ("change",))

    def step(self, req: int):
        """One request; returns (kind, wall, ok, why). The expected answer
        is computed before the clock starts."""
        kind = CYCLE[req % len(CYCLE)]
        t = self._ts()
        if kind == "snapshot":
            expected = self._expected_snapshot(t)
            call = lambda: self._snapshot(t)  # noqa: E731
        elif kind == "sparql":
            self.n_sparql += 1
            _, q_of, e_of, k_range = self.templates[self.n_sparql % len(self.templates)]
            k = self.rng.randrange(k_range)  # per-request constant: exact repeats stay rare
            q = q_of(k)
            expected = _rows(e_of(self.tt_state[t], k))
            call = lambda: self._sparql(t, q)  # noqa: E731
        else:
            t2 = self._ts()
            if t2 == t:
                t2 = self.pool[(self.pool.index(t) + 1) % len(self.pool)]
            expected = self._expected_diff(t, t2)
            call = lambda: self._diff(t, t2)  # noqa: E731
        t0 = time.perf_counter()
        with self.tracer.span(kind, request=req):
            level, got = call()
        wall = time.perf_counter() - t0
        if kind == "sparql":
            got = _rows(got)
        self.levels.append((kind, level, wall))
        ok = got == expected
        return kind, wall, ok, "" if ok else f"ts={t} got={str(got)[:200]} expected={str(expected)[:200]}"

    def warm_up(self):
        """One request of each type the set-up passes did not send; returns
        the checks."""
        checks = [self.step(req)[2:] for req in range(1, len(OPS))]
        self.levels = []
        return checks

    # -- metrics -------------------------------------------------------------
    def summary(self, clock, timed_s: float) -> dict[str, tuple[float, str]]:
        walls = [w for k in OPS for w in clock.walls.get(k, [])]
        p50 = {k: clock.p50_ms(k) for k in OPS}
        rate = len(walls) / timed_s  # completed requests over the timed loop's wall
        return {
            "throughput_per_s": (rate, "1/s"),
            # A run completes a handful of requests of each type, costing
            # 0.5-3 s each: the bounded latency is the geometric mean of
            # the per-type medians, so every type weighs the same and one
            # slow request does not swing it.
            "latency_ms": (math.prod(p50.values()) ** (1 / len(OPS)), "ms"),
            "req_per_s": (rate, "1/s"),
            "latency_p50_ms": (median(walls) * 1000, "ms"),
            "latency_p90_ms": (percentile(walls, 90) * 1000, "ms"),
            "snapshot_p50_ms": (p50["snapshot"], "ms"),
            "sparql_p50_ms": (p50["sparql"], "ms"),
            "diff_p50_ms": (p50["diff"], "ms"),
        }

    def spark_layer_metrics(self, per_op):
        out = {f"spark.{op}.{k}": v for op, m in per_op.items() if op in OPS for k, v in m.items()}
        # rows the forced snapshot's scan nodes read, per snapshot row
        scanned = per_op.get("probe.versioned.snapshot_ms", {}).get("scan_rows", 0.0)
        out["versioned.rows_scanned_per_row_returned"] = scanned / max(self.n_snap, 1)
        return out

    def layer_metrics(self) -> dict[str, float]:
        snaps = [x for x in self.levels if x[0] == "snapshot"]
        queries = [x for x in self.levels if x[0] == "sparql"]
        cached = [x for x in self.levels if x[0] != "diff"]
        hits = [w for k, lv, w in cached if lv != "Nothing"]
        misses = [w for k, lv, w in cached if lv == "Nothing"]
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        persisted = sum(i.memSize() + i.diskSize() for i in storage)
        return {
            "caching.store_hit_share": sum(lv == "Graph" for _, lv, _ in snaps) / max(len(snaps), 1),
            "caching.query_hit_share": sum(lv == "Query" for _, lv, _ in queries) / max(len(queries), 1),
            "caching.hit_p50_ms": median(hits) * 1000,
            "caching.miss_p50_ms": median(misses) * 1000,
            "caching.persisted_mb": persisted / 2**20,
        }

    def probes(self, tracer, clock) -> dict[str, float]:
        """Forced calls into each layer, one layer at a time (traced run
        only): the layer's own time without the rest of a request."""
        from pyspark.storagelevel import StorageLevel

        from rdf_diff_store_spark.functions.turtle import parse_triples
        from rdf_diff_store_spark.operators.versioned import diff, snapshot_at
        from rdf_diff_store_spark.plans.sparql_text import sparql_query
        from rdf_diff_store_spark.schemas import load_table
        from rdf_diff_store_spark.sources.relational import changelog_from_events

        out: dict[str, float] = {}

        def timed(name, fn):
            t0 = time.perf_counter()
            with tracer.span("probe." + name):
                r = fn()
            out[name] = (time.perf_counter() - t0) * 1000
            return r

        def force(df):
            df.write.format("noop").mode("overwrite").save()

        spark, t, t2 = self.spark, self.pool[0], self.pool[1]
        # the cache's store tier holds snapshots whose plans equal the
        # probes' own: drop them, so the probes read the raw changelog
        spark.catalog.clearCache()
        timed("relational.changelog_scan_ms", lambda: force(changelog_from_events(spark, self.dir)))
        timed("versioned.snapshot_ms", lambda: force(snapshot_at(self.store, t)))
        timed("versioned.diff_ms", lambda: force(diff(self.store, t, t2, on_triples=True)))
        snap = snapshot_at(self.store, t).persist(StorageLevel.MEMORY_AND_DISK)
        self.n_snap = snap.count()
        timed("turtle.parse_ms", lambda: force(parse_triples(snap)))
        triples = parse_triples(snap).persist(StorageLevel.MEMORY_AND_DISK)
        n_triples = triples.count()
        q = _q_bgp(0)
        res = timed("sparql_text.compile_ms", lambda: sparql_query(triples, q))
        timed("sparql_text.execute_ms", res.collect)
        triples.unpersist()
        snap.unpersist()
        scan_parts = load_table(spark, self.dir, "events").rdd.getNumPartitions()
        out["relational.widened"] = float(scan_parts < spark.sparkContext.defaultParallelism)
        out["turtle.triples_per_s"] = n_triples / (out["turtle.parse_ms"] / 1000)
        return out
