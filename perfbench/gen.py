"""Seeded input generators and their closed-form expected answers.

Everything here is pure Python (plus pyarrow for the events file): the
expected answers are derived from the generator's own model of the data,
never from the package under test.

* ``events_table``      — an events table with the measured shape of the
  sf0.1 test-data ``events`` table (user_id, ts, event_type, value,
  props), written as one parquet file with a single row group.
* ``Graph``/``turtle_doc``/``canonical`` — Turtle graph documents with
  ``@prefix`` blocks, typed and ``@lang`` literals, and the sorted
  N-Triples form the store's canonicalizer must produce for them.
* ``turtle_changelog``  — several versions per graph plus tombstones, for
  the time-travel store.
* ``IngestStream``      — micro-batches of upserts, identical re-sends and
  deletes, with the per-batch survivor counts the idempotent writer must
  report.
"""

from __future__ import annotations

import hashlib
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
EX = "http://ex.org/voc#"
DCT = "http://purl.org/dc/terms/"
DS = "http://ex.org/ds/"
ORG = "http://ex.org/org/"
THEME = "http://ex.org/theme/"

N_ORGS = 40
N_THEMES = 12
CHAIN_BLOCK = 8  # ex:next links ds/i -> ds/i+1 inside blocks of 8 graphs
PATHOLOGICAL_ID = "<#/(%¤=:"

T0 = datetime(2024, 1, 1)
SPAN_S = 30 * 86400  # events and graph versions span January 2024

TOMBSTONE = None  # content of a deleted graph in the generator's model

# the store's N-Triples fast path accepts exactly these canonical lines
_FAST_LINE = re.compile(r'^<([^>\\]*)> <([^>\\]*)> (?:<([^>\\]*)>|"([^"\\]*)") \.$')


def ts_str(t: datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# ---------------------------------------------------------------------------
# events table


# Shape of the sf0.1 ``events`` table of the repository's test data, as
# measured on that file: 100,000 events over 1,500 users (user_id
# 0..1499, 45-99 events each, as a uniform draw gives), ts uniform over
# 2024-01-01..2024-01-30 at microsecond resolution, distinct, event_id
# in ts order; the five event types ~20 % each (error 19.8 %); value in
# whole cents, exponential with mean ~50 (median 34.8, p90 114.3, p99
# 228.1); props always '{"k": N}' with N in 0..99; one row group.
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EVENT_VALUE_MEAN = 50.0
EVENT_PROPS_K = 100


def events_table(seed: int, n_events: int, n_users: int):
    """Rows of an events table with the measured shape above; n_events
    and n_users set the scale (100,000 / 1,500 is sf0.1). The changelog
    derivation turns 'error' events into tombstones. Values are whole
    cents, so ROUND(value * 100) agrees across engines."""
    rng = random.Random(seed * 7919 + 1)
    times = sorted(rng.sample(range(SPAN_S * 1_000_000), n_events))
    rows = []
    for eid, us in enumerate(times):
        rows.append(
            (
                eid,
                T0 + timedelta(microseconds=us),
                rng.randrange(n_users),
                EVENT_TYPES[rng.randrange(len(EVENT_TYPES))],
                round(rng.expovariate(1 / EVENT_VALUE_MEAN), 2),
                f'{{"k": {rng.randrange(EVENT_PROPS_K)}}}',
            )
        )
    return rows


def write_events_parquet(path: str, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(table, path, row_group_size=len(rows))


# ---------------------------------------------------------------------------
# Turtle graphs


@dataclass(frozen=True)
class Graph:
    """One version of one generated graph document."""

    i: int  # dataset number
    v: int  # content version
    rich: bool  # typed / @lang literals (rich) or IRIs + plain literals only

    @property
    def graph_id(self) -> str:
        return graph_id(self.i)

    def triples(self) -> list[tuple[str, str, tuple]]:
        """(subj, pred, obj) with obj = ("iri", x) | ("lit", lex, dt, lang)."""
        s = f"{DS}{self.i}"
        out = [
            (s, RDF_TYPE, ("iri", f"{EX}Dataset")),
            (s, f"{EX}publisher", ("iri", f"{ORG}{publisher(self.i, self.v)}")),
            (s, f"{EX}theme", ("iri", f"{THEME}{theme(self.i, self.v)}")),
        ]
        if (self.i + 1) % CHAIN_BLOCK:
            out.append((s, f"{EX}next", ("iri", f"{DS}{self.i + 1}")))
        if self.rich:
            out += [
                (s, f"{DCT}title", ("lit", f"Datasett {self.i} æøå v{self.v}", None, "nb")),
                (s, f"{DCT}title", ("lit", f"Dataset {self.i} v{self.v}", None, "en")),
                (s, f"{EX}rank", ("lit", str(rank(self.i, self.v)), f"{XSD}integer", None)),
                (s, f"{DCT}modified", ("lit", f"2024-01-{1 + self.v % 28:02d}T10:00:00", f"{XSD}dateTime", None)),
            ]
        else:
            out += [
                (s, f"{DCT}title", ("lit", f"Dataset {self.i} v{self.v}", None, None)),
                (s, f"{EX}rank", ("lit", str(rank(self.i, self.v)), None, None)),
            ]
        if has_note(self.i, self.v):
            out.append((s, f"{EX}note", ("lit", f"note {self.i}.{self.v}", None, None)))
        return out


def graph_id(i: int) -> str:
    return PATHOLOGICAL_ID if i == 0 else f"https://data.example.org/graphs/{i}"


def publisher(i: int, v: int) -> int:
    return (i * 7 + v * 3) % N_ORGS


def theme(i: int, v: int) -> int:
    return (i + v) % N_THEMES


def rank(i: int, v: int) -> int:
    return (i * 31 + v * 17) % 1000


def has_note(i: int, v: int) -> bool:
    return (i + v) % 3 == 0


def _term_ttl(o: tuple) -> str:
    if o[0] == "iri":
        return f"<{o[1]}>"
    _, lex, dt, lang = o
    if lang:
        return f'"{lex}"@{lang}'
    if dt == f"{XSD}integer":
        return lex  # numeric shorthand: parses to xsd:integer
    if dt:
        return f'"{lex}"^^xsd:{dt[len(XSD):]}'
    return f'"{lex}"'


def turtle_doc(g: Graph, variant: int = 0) -> str:
    """Turtle text for a graph version. ``variant`` changes only the
    surface syntax (statement grouping and order), never the content, so
    every variant canonicalizes to the same bytes."""
    trip = g.triples()
    head = (
        "@prefix ex: <http://ex.org/voc#> .\n"
        "@prefix dct: <http://purl.org/dc/terms/> .\n"
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    )
    s = f"<{trip[0][0]}>"

    def pname(p: str) -> str:
        if p == RDF_TYPE:
            return "a"
        for pfx, ns in (("ex", EX), ("dct", DCT)):
            if p.startswith(ns):
                return f"{pfx}:{p[len(ns):]}"
        return f"<{p}>"

    if variant % 2 == 0:  # one subject block with ';' and ',' lists
        by_pred: dict[str, list[str]] = {}
        for _, p, o in trip:
            by_pred.setdefault(pname(p), []).append(_term_ttl(o))
        body = " ;\n    ".join(f"{p} {' , '.join(objs)}" for p, objs in by_pred.items())
        return f"{head}{s} {body} .\n"
    # one statement per triple, reversed order
    return head + "".join(f"{s} {pname(p)} {_term_ttl(o)} .\n" for _, p, o in reversed(trip))


def _nt_line(s: str, p: str, o: tuple) -> str:
    if o[0] == "iri":
        obj = f"<{o[1]}>"
    else:
        _, lex, dt, lang = o
        obj = f'"{lex}"'
        if lang:
            obj += f"@{lang}"
        elif dt and dt != f"{XSD}string":
            obj += f"^^<{dt}>"
    return f"<{s}> <{p}> {obj} ."


def canonical(g: Graph) -> str:
    """The sorted N-Triples bytes the store must hold for this version."""
    lines = sorted(_nt_line(s, p, o) for s, p, o in g.triples())
    return "\n".join(lines) + "\n"


def content_hash(g: Graph) -> str:
    return hashlib.sha256(canonical(g).encode()).hexdigest()


def fast_path_eligible(g: Graph) -> bool:
    return all(_FAST_LINE.match(ln) for ln in canonical(g).splitlines())


def md5_60(text: str) -> int:
    """First 60 bits of md5(text) — the per-row term of an
    order-insensitive fingerprint computed identically in Spark."""
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# time-travel store: a Turtle changelog


@dataclass
class TurtleChangelog:
    """updates: (graph_id, ts, op, payload, format) rows in ts order;
    history: graph i -> [(ts, Graph | TOMBSTONE)] in ts order."""

    updates: list[tuple] = field(default_factory=list)
    history: dict[int, list[tuple[datetime, Graph | None]]] = field(default_factory=dict)

    def state_at(self, t: datetime) -> dict[int, Graph]:
        out = {}
        for i, versions in self.history.items():
            live = None
            for ts, g in versions:
                if ts > t:
                    break
                live = g
            if live is not None:
                out[i] = live
        return out


def turtle_changelog(seed: int, n_graphs: int, tombstone_share: float = 0.05) -> TurtleChangelog:
    """Each graph gets 2-5 versions at distinct whole-second times in
    January 2024; after the first version, ~tombstone_share of versions
    are deletes. ~30 % of graphs are IRI/plain-literal only (fast-path
    eligible), the rest carry typed and @lang literals."""
    rng = random.Random(seed * 104729 + 2)
    log = TurtleChangelog()
    for i in range(n_graphs):
        rich = rng.random() >= 0.3
        n_v = rng.randint(2, 5)
        times = sorted(rng.sample(range(SPAN_S), n_v))
        versions: list[tuple[datetime, Graph | None]] = []
        prev_deleted = False
        for k, sec in enumerate(times):
            ts = T0 + timedelta(seconds=sec)
            if k > 0 and not prev_deleted and rng.random() < tombstone_share:
                versions.append((ts, TOMBSTONE))
                log.updates.append((graph_id(i), ts_str(ts), "delete", None, None))
                prev_deleted = True
                continue
            g = Graph(i, k, rich)
            versions.append((ts, g))
            log.updates.append((graph_id(i), ts_str(ts), "add", turtle_doc(g, k), "text/turtle"))
            prev_deleted = False
        log.history[i] = versions
    log.updates.sort(key=lambda u: u[1])
    return log


# ---------------------------------------------------------------------------
# ingest stream


class IngestStream:
    """In-order micro-batches, generated on demand.

    Each update picks a graph with a skew towards recently created ones;
    ~10 % re-send the graph's current content in another surface syntax
    (the writer must skip them), ~5 % are deletes, a fifth of which target
    graphs that never existed. Expected survivors follow the store's
    rules: an add survives iff its canonical content differs from the
    graph's previous version, a delete iff the graph currently exists."""

    def __init__(self, seed: int, batch_size: int):
        self.rng = random.Random(seed * 15485863 + 3)
        self.batch_size = batch_size
        self.final: dict[str, str | None] = {}  # graph_id -> latest kept hash (None = deleted)
        self._current: dict[int, Graph] = {}  # live graphs
        self._version: dict[int, int] = {}
        self.n_created = 0
        self._t = T0
        self.n_updates = self.n_resend = self.n_delete = 0
        self.n_adds = self.n_fast = self.payload_bytes = 0

    def next_batch(self) -> tuple[list[tuple], int]:
        """(rows, expected survivors); rows are (graph_id, ts, op,
        payload, format)."""
        rng, batch, kept = self.rng, [], 0
        for _ in range(self.batch_size):
            self._t += timedelta(seconds=1)
            ts = ts_str(self._t)
            self.n_updates += 1
            r = rng.random()
            if r < 0.05:  # delete
                self.n_delete += 1
                i = None if rng.random() < 0.2 or not self.n_created else _skewed(rng, self.n_created)
                gid = f"https://data.example.org/ghost/{rng.randrange(10**9)}" if i is None else graph_id(i)
                batch.append((gid, ts, "delete", None, None))
                if self.final.get(gid) is not None:
                    kept += 1
                    self.final[gid] = None
                    self._current.pop(i, None)
                continue
            g = None
            if r < 0.15 and self._current:  # identical re-send of a live graph
                i = _skewed(rng, self.n_created)
                g = self._current.get(i)
                if g is not None:
                    self.n_resend += 1
                    doc = turtle_doc(g, self._version[i] + 1)  # other syntax, same content
            if g is None:
                if rng.random() < 0.3 or not self.n_created:
                    i = self.n_created
                    self.n_created += 1
                else:
                    i = _skewed(rng, self.n_created)
                self._version[i] = self._version.get(i, -1) + 1
                g = Graph(i, self._version[i], rich=(i % 10) >= 3)
                self._current[i] = g
                doc = turtle_doc(g, self._version[i])
            batch.append((g.graph_id, ts, "add", doc, "text/turtle"))
            self.payload_bytes += len(doc.encode())
            self.n_adds += 1
            self.n_fast += fast_path_eligible(g)
            h = content_hash(g)
            if self.final.get(g.graph_id, "") != h:
                kept += 1
                self.final[g.graph_id] = h
        return batch, kept

    def props(self) -> dict[str, float]:
        n = max(self.n_updates, 1)
        return {
            "input.graphs": float(self.n_created),
            "input.updates": float(self.n_updates),
            "input.resend_share": self.n_resend / n,
            "input.delete_share": self.n_delete / n,
            "input.payload_mb": self.payload_bytes / 2**20,
            "turtle.fast_path_eligible_share": self.n_fast / max(self.n_adds, 1),
        }


def _skewed(rng: random.Random, n: int) -> int:
    """Index in [0, n) skewed towards n-1 (recently created graphs)."""
    return n - 1 - min(int(rng.expovariate(1 / max(n / 8, 1))), n - 1)
