"""The knowledge-graph build, probed from a traced run: in-memory
``pipeline.kg.build_kg`` over a fixed, local-checkpointed pages table
from ``sources.pages.generate_pages``: one warm-up build and then
``BUILDS`` timed builds, all checked.

Each build's answers are checked: alias precision and recall against
``expected_alias_pairs`` (read from the built changelog: a token the
pipeline merged into another entity no longer appears as an entity
IRI), and the quad count and changelog fingerprint must repeat across
builds."""

from __future__ import annotations

import time

from harness import fingerprint, host_cpus, median

SIZES = {
    "full": {"n_urls": 1000, "n_crawls": 4},
    "tiny": {"n_urls": 120, "n_crawls": 3},
}
STAGES = ("extract", "mentions", "first_capture", "alias_edges", "entity_map", "quads", "changelog")
BUILDS = 1
MIN_PR = 0.95


class KgProbe:
    def __init__(self, seed: int, size: str):
        s = SIZES[size]
        # generate_pages is deterministic in its sizes: the seed picks the
        # entity vocabulary size, which reshuffles every page's mentions
        # and the alias pairs while the page count stays fixed
        self.n_urls = s["n_urls"]
        self.n_crawls = s["n_crawls"]
        self.n_entities = max(self.n_urls // 10, 10) + seed % 20

    def _inputs(self, spark):
        """Pages, the entity tokens they mention, and the b-tokens of the
        expected alias pairs."""
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.pipeline.kg import ENTITY_TOKEN_RE
        from rdf_diff_store_spark.sources.pages import expected_alias_pairs, generate_pages

        pages = generate_pages(
            spark,
            n_urls=self.n_urls,
            n_crawls=self.n_crawls,
            n_entities=self.n_entities,
            partitions=host_cpus(),
        ).localCheckpoint()
        tokens = (
            pages.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
            .filter(F.col("t").rlike(ENTITY_TOKEN_RE))
            .distinct()
        )
        self.in_tokens = {r.t for r in tokens.collect()}
        truth = expected_alias_pairs(spark, self.n_urls, self.n_entities)
        self.expected_b = {r.token_b for r in truth.collect()}
        self.n_pages = pages.count()
        return pages

    def _check(self, changelog, rec):
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.pipeline.kg import ENTITY_IRI_PREFIX

        ents = (
            changelog.select(F.explode(F.split("payload", "\n")).alias("line"))
            .filter(F.col("line").contains("<http://kg.example.org/mentions>"))
            .select(F.regexp_extract("line", "<" + ENTITY_IRI_PREFIX + r"([^>]*)>", 1).alias("e"))
            .distinct()
        )
        vanished = self.in_tokens - {r.e for r in ents.collect()}
        tp = len(vanished & self.expected_b)
        self.precision = tp / max(len(vanished), 1)
        self.recall = tp / max(len(self.expected_b), 1)
        quads = {m["stage"]: m["rows"] for m in rec.metrics}.get("quads")
        sig = (quads, *fingerprint(changelog, ("graph_id", "op", "content_hash")))
        self.signature = getattr(self, "signature", sig)
        problems = []
        if self.precision < MIN_PR or self.recall < MIN_PR:
            problems.append(f"kg alias precision {self.precision:.3f} recall {self.recall:.3f}")
        if sig != self.signature:
            problems.append(f"kg (quads, changelog rows, hash) {sig} != first build's {self.signature}")
        return not problems, "; ".join(problems)

    def run(self, spark, tracer, clock) -> dict[str, float]:
        """Warm-up build, then BUILDS checked builds under "build" spans;
        returns the kg.* metrics (stage walls and rows from the returned
        StageRecorder, wall not covered by any stage)."""
        from rdf_diff_store_spark.pipeline.kg import build_kg

        pages = self._inputs(spark)
        builds = []
        for n in range(BUILDS + 1):
            t0 = time.perf_counter()
            with tracer.span("build" if n else "warmup.build"):
                changelog, rec = build_kg(spark, pages)
            wall = time.perf_counter() - t0
            ok, why = self._check(changelog, rec)
            changelog.unpersist()
            clock.check(ok, why)
            if n:
                builds.append({"wall": wall, "metrics": rec.metrics})
        out = {}
        for st in STAGES:
            rows = [m for b in builds for m in b["metrics"] if m["stage"] == st]
            out[f"kg.{st}_s"] = median([m["wall_sec"] for m in rows])
            out[f"kg.{st}_rows"] = median([m["rows"] for m in rows])
        walls = [b["wall"] for b in builds]
        out["kg.unattributed_s"] = median(
            [b["wall"] - sum(m["wall_sec"] for m in b["metrics"]) for b in builds]
        )
        out["kg.build_s"] = median(walls)
        out["kg.pages_per_s"] = self.n_pages / median(walls)
        out["kg.alias_precision"] = self.precision
        out["kg.alias_recall"] = self.recall
        out["input.kg_pages"] = float(self.n_pages)
        out["input.kg_expected_alias_pairs"] = float(len(self.expected_b))
        return out
