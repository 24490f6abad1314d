"""The two workloads: what one round does, and how its outputs are checked.

Every call into the package goes through a span named after the layer it
enters (``plans.build``, ``pipelines.address_quads``, ``quads.write_nquads``,
...). In traced mode each call also runs under a Spark job group
``<query>:<phase>`` so the status store can attribute jobs to it, and the
physical plan is forced under ``plans.plan`` before the action; untraced
rounds make neither py4j call.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

#: The iterative operators the benchmark times: the four queries that fire
#: the most jobs during build (pagerank, BPE, hierarchy, tf-idf).
OPS_QUERIES = (
    "graph_pagerank",
    "j12_hierarchy_roots",
    "similarity_tfidf_pairs",
    "text_bpe_learn_merges",
)

ADDR_G = "urn:example:graph:addresses"
ROAD_G = "urn:example:graph:roads"
NAME_G = "urn:example:graph:names"
#: Predicates whose object is a literal in the road (T3) and name (T7)
#: fan-outs; every other object there is an IRI. The catalog builders
#: return (subject, predicate, object_value[, object_datatype]), so the
#: benchmark completes the quad schema before the N-Quads sink.
LITERAL_PREDICATES = (
    "https://schema.org/name",
    "https://example.org/def/missingFromAddresses",
    "https://schema.org/validFrom",
    "https://schema.org/keywords",
)
_KIND_SQL = (
    "CASE WHEN predicate IN ("
    + ", ".join(f"'{p}'" for p in LITERAL_PREDICATES)
    + ") THEN 'literal' ELSE 'iri' END AS object_kind"
)


def request_order(workload: str, seed: int, rounds: int) -> list[list[str]]:
    """The operations of each round, in order: ``etl_nquads`` has one per
    round; ``iterative_ops`` runs every query once per pass, in one order
    drawn from the seed."""
    if workload == "etl_nquads":
        return [["etl_nquads"] for _ in range(rounds)]
    order = list(OPS_QUERIES)
    random.Random(seed).shuffle(order)
    return [list(order) for _ in range(rounds)]


class Runner:
    """Runs operations against one session and one input directory."""

    def __init__(self, spark, tracer, data_dir: str, out_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.data_dir = data_dir
        self.out_dir = out_dir

    def _group(self, query: str, phase: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(f"{query}:{phase}", query)

    def _force_plan(self, df) -> None:
        if self.tracer.enabled:
            with self.tracer.span("plans.plan"):
                df._jdf.queryExecution().executedPlan()

    def query(self, name: str, collect: bool = False):
        """Build a catalog query and run it to a ``noop`` sink, or collect
        it (the checked warm-up round) and return its rows and columns."""
        from cam_etl_spark.plans import QUERIES

        tr = self.tracer
        self._group(name, "build")
        with tr.span("plans.build"):
            df = QUERIES[name].spark(self.spark, self.data_dir)
        self._group(name, "exec")
        self._force_plan(df)
        with tr.span("plans.exec"):
            if collect:
                return df.collect(), df.columns
            df.write.format("noop").mode("overwrite").save()
        return None

    def etl_quads(self):
        """Sources to one three-graph quad frame: the address pipeline
        (not deduped: the sink dedups the union once) plus the road and
        name fan-outs of the catalog, as ``etl_end_to_end_counts`` composes
        them."""
        from cam_etl_spark.pipelines.address import address_quads
        from cam_etl_spark.plans.surface import t3_road_vocab_fanout, t7_name_fanout

        tr, d = self.tracer, self.data_dir
        with tr.span("pipelines.address_quads"):
            addr = address_quads(self.spark, d, dedup=False)
        with tr.span("plans.build"):
            roads = t3_road_vocab_fanout(self.spark, d)
            names = t7_name_fanout(self.spark, d)
        roads = roads.selectExpr(
            "subject", "predicate", "object_value", _KIND_SQL,
            "CAST(NULL AS STRING) AS object_datatype",
            "CAST(NULL AS STRING) AS object_lang", f"'{ROAD_G}' AS graph")
        names = names.selectExpr(
            "subject", "predicate", "object_value", _KIND_SQL, "object_datatype",
            "CAST(NULL AS STRING) AS object_lang", f"'{NAME_G}' AS graph")
        return addr.unionByName(roads).unionByName(names)

    def etl(self) -> dict:
        """Write the graph as N-Quads, read it back and reconcile: per-graph
        quad and subject counts plus the live-address invariant."""
        from cam_etl_spark.pipelines.address import bronze_tables
        from cam_etl_spark.quads import read_nquads, write_nquads

        tr = self.tracer
        self._group("etl_nquads", "build")
        quads = self.etl_quads()
        self._group("etl_nquads", "write")
        self._force_plan(quads)
        with tr.span("quads.write_nquads"):
            write_nquads(quads, self.out_dir)
        self._group("etl_nquads", "reconcile")
        with tr.span("quads.read_nquads"):
            per_graph = (
                read_nquads(self.spark, self.out_dir)
                .groupBy("graph")
                .agg(F.count("*").alias("n"), F.countDistinct("subject").alias("s"))
                .collect()
            )
        with tr.span("pipelines.bronze_tables"):
            live = (
                bronze_tables(self.spark, self.data_dir)["addresses"]
                .filter(F.col("addr_status_code") != "H")
                .count()
            )
        subjects = {r["graph"]: r["s"] for r in per_graph}
        return {
            "total_quads": sum(r["n"] for r in per_graph),
            "address_graph_subjects": subjects.get(ADDR_G, 0),
            "road_graph_subjects": subjects.get(ROAD_G, 0),
            "name_graph_subjects": subjects.get(NAME_G, 0),
            "address_count_reconciles": int(subjects.get(ADDR_G, 0) == live),
        }

    def output_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, files in os.walk(self.out_dir)
            for f in files
            if not f.startswith((".", "_"))
        )

    def close(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
