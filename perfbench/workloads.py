"""The benchmark's workloads: each drives the program only through the public
entry points a user calls, checks every pass's output, and can replay the
same pass layer by layer under a :class:`spans.Tracer`.
"""

from __future__ import annotations

import csv
import json
import os
import re
import shutil

from pyspark.sql import functions as F

import gen
from spans import job_group

#: a demoted (invalid) typed cell's datatype: '' is how terms spell xsd:string
XSD_STRING = gen.XSD + "string"
_HERE = os.path.dirname(os.path.abspath(__file__))


def tree_bytes(path: str) -> int:
    """Bytes of the data files a sink committed (no markers, no checksums)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


def part_lines(path: str):
    """Lines of the part files a text sink committed, read without Spark."""
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                yield from f.read().splitlines()


class Workload:
    """One set of seeded inputs and the pass a user would run over them."""

    name = ""
    layers: tuple[str, ...] = ()
    extras: tuple[str, ...] = ()   # per-layer metrics beyond LAYER_METRICS
    #: warm passes left out of ``wall_s``: the JVM's JIT still speeds the
    #: first ones up, and a median over them would depend on how many of
    #: them fit into ``--seconds``
    warmup = 1
    min_warm = 3                   # warm passes in ``wall_s`` at least
    #: a workload whose layers this one's traced passes also run, on the
    #: companion's own inputs and with its output check; untraced passes
    #: (and so the end-to-end metrics) leave it out
    companion: type[Workload] | None = None

    @classmethod
    def traced_layers(cls) -> tuple[str, ...]:
        """Every layer a traced pass calls."""
        return cls.layers + (cls.companion.layers if cls.companion else ())

    @classmethod
    def traced_extras(cls) -> tuple[str, ...]:
        """Every extra metric a traced run reports."""
        return cls.extras + (cls.companion.extras if cls.companion else ())

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.input = os.path.join(work, "input")

    def setup(self) -> None:
        """The program's own set-up, timed as part of ``setup_s``."""

    def prepare(self) -> None:
        """Generate the inputs (not timed)."""

    def run_pass(self, out: str) -> None:
        raise NotImplementedError

    def traced_pass(self, tracer, run_id: str, out: str) -> None:
        raise NotImplementedError

    def check(self, out: str) -> tuple[bool, int]:
        """(output correct, triples written or consumed)."""
        raise NotImplementedError

    def probe(self) -> None:
        """Spark-side diagnostics run once after the passes, outside every
        layer span (traced runs only)."""

    def diagnostics(self, layers) -> dict[str, float]:
        """The ``extras`` metrics, from the folded layers and the probes."""
        return {}

    def diagnostics_ok(self, diag) -> bool:
        """Whether the diagnostics agree with what the inputs planted."""
        return True


# --------------------------------------------------------------------------
# N-Triples → CSVW table
# --------------------------------------------------------------------------

class Rdf2CsvwTable(Workload):
    name = "rdf2csvw_table"
    layers = ("functions.ntriples.parse", "plans.rdf2csvw", "sources.csv_sink")
    extras = ("plans.rdf2csvw.task_skew",)
    ROWS = {"full": 10_000, "small": 1_000}
    PARTS = 4

    def setup(self):
        from csvw_rdf_convertor_spark.descriptor_norm import normalize_descriptor
        from csvw_rdf_convertor_spark.spec import parse_descriptor
        self.descriptor = gen.descriptor()
        self.table = parse_descriptor(normalize_descriptor(self.descriptor)).tables[0]

    def prepare(self):
        t = gen.Table(self.seed, self.ROWS[self.size], malformed=False)
        t.write_ntriples(self.input, self.PARTS)
        self.expected = t.canonical_rows()
        self.n_triples = len(t.rows) * len(gen.COLUMNS)

    def _table(self, triples):
        from csvw_rdf_convertor_spark.plans import rdf2csvw_run
        (df,) = rdf2csvw_run.convert(self.spark, self.descriptor, triples).values()
        return df

    def run_pass(self, out):
        from csvw_rdf_convertor_spark.functions.ntriples import parse_ntriples
        from csvw_rdf_convertor_spark.sources.csv_sink import write_table_csv
        write_table_csv(self._table(parse_ntriples(self.spark, self.input)),
                        out, self.table.dialect)

    def traced_pass(self, tracer, run_id, out):
        from csvw_rdf_convertor_spark.functions.ntriples import parse_ntriples
        from csvw_rdf_convertor_spark.sources.csv_sink import write_table_csv
        triples = tracer.materialise("functions.ntriples.parse", run_id,
                                     parse_ntriples(self.spark, self.input), run_id)
        table = tracer.materialise("plans.rdf2csvw", run_id,
                                   self._table(triples), run_id)
        with tracer.span("sources.csv_sink", run_id, run_id) as group:
            write_table_csv(table, out, self.table.dialect)
        tracer.rows[group] = tracer.rows[f"{run_id}/plans.rdf2csvw"]
        triples.unpersist()
        table.unpersist()

    def check(self, out):
        got = [tuple(r) for r in csv.reader(part_lines(out))]
        return (len(got) == len(self.expected)
                and set(got) == self.expected), self.n_triples

    def diagnostics(self, layers):
        return {"plans.rdf2csvw.task_skew": layers["plans.rdf2csvw"]["task_skew"]}


# --------------------------------------------------------------------------
# CSVW table → N-Triples
# --------------------------------------------------------------------------

class Csvw2RdfTable(Workload):
    name = "csvw2rdf_table"
    layers = ("sources.csv_source", "plans.csvw2rdf", "functions.ntriples.write")
    extras = ("plans.csvw2rdf.triples_per_row", "plans.csvw2rdf.invalid_cells",
              "plans.csvw2rdf.max_codegen_method_bytes",
              "plans.csvw2rdf.codegen_compiles")
    ROWS = {"full": 30_000, "small": 2_000}
    PARTS = 4
    # passes are short: most of a pass is driver-side plan building, which
    # the JIT is still speeding up in the first warm pass
    min_warm = 4
    # the reverse direction uses the same terms; its layers are measured
    # here so that a traced run of a listed workload covers them
    companion = Rdf2CsvwTable

    def setup(self):
        from csvw_rdf_convertor_spark.descriptor_norm import normalize_descriptor
        from csvw_rdf_convertor_spark.spec import parse_descriptor
        self.table = parse_descriptor(normalize_descriptor(gen.descriptor())).tables[0]

    def prepare(self):
        t = gen.Table(self.seed, self.ROWS[self.size], malformed=True)
        t.write_csv(self.input, self.PARTS)
        self.malformed = t.malformed_cells
        self.expected = gen.digest(t.ntriples())
        self.invalid_cells = None
        self.reverse = self.companion(self.spark, os.path.join(self.work, "reverse"),
                                      self.seed, self.size)
        self.reverse.setup()
        self.reverse.prepare()

    def _triples(self, df):
        from csvw_rdf_convertor_spark.plans.csvw2rdf import table_to_triples
        return table_to_triples(df, self.table)

    def _scan(self):
        from csvw_rdf_convertor_spark.sources.csv_source import read_csv
        return read_csv(self.spark, self.input, self.table)

    def run_pass(self, out):
        from csvw_rdf_convertor_spark.functions.ntriples import write_ntriples
        write_ntriples(self._triples(self._scan()), out)

    def traced_pass(self, tracer, run_id, out):
        from csvw_rdf_convertor_spark.functions.ntriples import write_ntriples
        rows = tracer.materialise("sources.csv_source", run_id, self._scan(), run_id)
        triples = tracer.materialise("plans.csvw2rdf", run_id,
                                     self._triples(rows), run_id)
        with tracer.span("functions.ntriples.write", run_id, run_id) as group:
            write_ntriples(triples, out)
        tracer.rows[group] = tracer.rows[f"{run_id}/plans.csvw2rdf"]
        if self.invalid_cells is None:
            typed = [f"{gen.TABLE_URL}#{n}" for n, d, _ in gen.COLUMNS
                     if d in gen.TYPED_IRI]
            with job_group(self.spark.sparkContext, "diagnostics"):
                self.invalid_cells = triples.where(
                    F.col("pred").isin(typed)
                    & F.col("obj_dtype").isin("", XSD_STRING)).count()
        rows.unpersist()
        triples.unpersist()
        # the reverse direction on its own seeded N-Triples: every source
        # row must come back, or the traced pass fails
        back = os.path.join(self.reverse.work, "out")
        clear(back)
        self.reverse.traced_pass(tracer, run_id, back)
        if not self.reverse.check(back)[0]:
            raise RuntimeError("rdf2csvw round trip lost or changed rows")

    def check(self, out):
        got = gen.digest(part_lines(out))
        return got == self.expected, got[0]

    def probe(self):
        from csvw_rdf_convertor_spark.functions.ntriples import to_ntriples_lines
        spark = self.spark
        # codegenString compiles every WholeStageCodegen subtree and reports
        # its largest method; AQE would hide the subtrees before execution
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            plan = to_ntriples_lines(self._triples(self._scan()))
            text = spark._jvm.PythonSQLUtils.explainString(
                plan._jdf.queryExecution(), "codegen")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        sizes = [int(x) for x in re.findall(r"maxMethodCodeSize:(\d+)", text)]
        # the compile probe bench.py runs: with fallback off a janino failure
        # raises instead of silently interpreting the stage
        spark.conf.set("spark.sql.codegen.fallback", "false")
        try:
            with job_group(spark.sparkContext, "diagnostics"):
                to_ntriples_lines(self._triples(self._scan().limit(1000))).count()
            compiles = 1
        except Exception:  # noqa: BLE001 - any compile error means "no"
            compiles = 0
        finally:
            spark.conf.set("spark.sql.codegen.fallback", "true")
        self.codegen = max(sizes, default=0), compiles

    def diagnostics(self, layers):
        src = layers["sources.csv_source"]["rows_out"]
        return {
            "plans.csvw2rdf.triples_per_row":
                layers["plans.csvw2rdf"]["rows_out"] / src if src else 0.0,
            "plans.csvw2rdf.invalid_cells": self.invalid_cells,
            "plans.csvw2rdf.max_codegen_method_bytes": self.codegen[0],
            "plans.csvw2rdf.codegen_compiles": self.codegen[1],
            **self.reverse.diagnostics(layers),
        }

    def diagnostics_ok(self, diag) -> bool:
        return diag["plans.csvw2rdf.invalid_cells"] == self.malformed


# --------------------------------------------------------------------------
# transcripts → KG
# --------------------------------------------------------------------------

class KgTranscripts(Workload):
    name = "kg_transcripts"
    layers = ("kg.pipeline.turn_triples", "kg.mentions", "kg.linking", "kg.cc",
              "kg.pipeline.mention_triples", "kg.pipeline.write")
    extras = ("kg.mentions.mentions_per_turn", "kg.linking.link_rate",
              "kg.cc.edges", "kg.cc.driver_fast_path", "kg.linking.task_skew",
              "kg.cc.task_skew", "kg.pipeline.write.task_skew")
    CONVS = {"full": 5_000, "small": 500}
    # the first warm pass is still JIT-slow, by 10-60%: more when the
    # machine is slow, as then the JIT compiles behind the passes for longer.
    # Two timed passes: each costs 8-13 s of the regression runs' budget
    min_warm = 2
    BUCKETS = 2   # one bucket per core
    PARTS = 4
    TURN_TRIPLES = 7   # per turn, plus one more when the turn names a tool
    MANIFEST = ("bucket", "n_turns", "n_mentions", "n_links", "n_triples")
    MENTION_TRIPLES = 5

    def setup(self):
        from csvw_rdf_convertor_spark.kg import pipeline
        from csvw_rdf_convertor_spark.kg.synth import alias_dictionary
        self.dictionary = alias_dictionary()
        pipeline.transcripts_table_spec()   # the mapping descriptor, parsed

    def prepare(self):
        import pyarrow.parquet as pq

        from csvw_rdf_convertor_spark.kg.synth import synth_transcripts
        tr = synth_transcripts(self.spark, n_convs=self.CONVS[self.size],
                               seed=self.seed, max_len=400, skew=1.2)
        tr.repartition(self.PARTS).write.mode("overwrite").parquet(self.input)
        tool = pq.read_table(self.input, columns=["tool"])["tool"]
        self.turns, self.tool_turns = len(tool), len(tool) - tool.null_count
        with open(os.path.join(_HERE, "pinned.json"), encoding="utf-8") as f:
            pinned = json.load(f).get(self.name, {}).get(self.size, {})
        self.pinned = pinned.get(str(self.seed))
        self.seen = None   # (digest, manifest rows) of the first pass
        self.cc_edges = self.cc_fast = None

    def _source(self):
        return self.spark.read.parquet(self.input)

    def run_pass(self, out):
        from csvw_rdf_convertor_spark.kg import pipeline
        pipeline.run(self._source(), out, dictionary=self.dictionary,
                     n_buckets=self.BUCKETS, resume=False)

    def traced_pass(self, tracer, run_id, out):
        """``pipeline.run(resume=False)`` statement by statement (a replica:
        keep it in step with ``pipeline.run``), each layer materialised once
        under its own span. Its manifest must equal the plain passes'."""
        from csvw_rdf_convertor_spark.functions.terms import TRIPLE_COLS
        from csvw_rdf_convertor_spark.kg import cc, linking, mentions, pipeline
        spark, n_buckets, dictionary = self.spark, self.BUCKETS, self.dictionary
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        with tracer.span("kg.pipeline.turn_triples", run_id, run_id) as group:
            todo = self._source().withColumn("bucket", bucket)
            todo = todo.repartition(n_buckets, "bucket").cache()
            todo.count()
            turns = pipeline.turn_triples(todo, passthrough=("bucket",)).persist()
            tracer.rows[group] = turns.count()
        ments = tracer.materialise("kg.mentions", run_id,
                                   mentions.detect_mentions(todo, dictionary),
                                   run_id)
        aliases = linking.alias_table(spark, dictionary)
        linked = tracer.materialise(
            "kg.linking", run_id,
            linking.link(ments, aliases).withColumn("bucket", bucket), run_id)
        with tracer.span("kg.cc", run_id, run_id) as group:
            edges = cc.link_graph_edges(linked, aliases)
            labels = cc.connected_components(edges)
            canon = cc.canonical_mapping(
                labels.where(~F.col("node").startswith("sf:"))).persist()
            tracer.rows[group] = canon.count()
        m_triples = tracer.materialise(
            "kg.pipeline.mention_triples", run_id,
            pipeline.mention_triples(linked, canon, passthrough=["bucket"]), run_id)
        with tracer.span("kg.pipeline.write", run_id, run_id) as group:
            all_triples = (turns.select("bucket", *TRIPLE_COLS)
                           .unionByName(m_triples.select("bucket", *TRIPLE_COLS)
                                        .repartition(n_buckets, "bucket")))
            (all_triples.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(f"{out}/triples"))
            tagged = (todo.select("bucket", F.lit("turn").alias("kind"))
                      .unionByName(ments.withColumn("bucket", bucket)
                                   .select("bucket", F.lit("mention").alias("kind")))
                      .unionByName(linked.select("bucket", F.lit("link").alias("kind"))))
            counts = (tagged.groupBy("bucket").agg(
                F.sum(F.when(F.col("kind") == "turn", 1).otherwise(0)).alias("n_turns"),
                F.sum(F.when(F.col("kind") == "mention", 1).otherwise(0)).alias("n_mentions"),
                F.sum(F.when(F.col("kind") == "link", 1).otherwise(0)).alias("n_links")))
            triple_counts = (spark.read.parquet(f"{out}/triples")
                             .where(F.lit(True))
                             .groupBy("bucket").agg(F.count("*").alias("n_triples")))
            manifest = (counts.join(triple_counts, "bucket", "left").na.fill(0)
                        .withColumn("finished_at", F.current_timestamp()))
            manifest.write.mode("append").parquet(f"{out}/manifest")
            spark.read.parquet(f"{out}/manifest").collect()
            tracer.rows[group] = (tracer.rows[f"{run_id}/kg.pipeline.turn_triples"]
                                  + tracer.rows[f"{run_id}/kg.pipeline.mention_triples"])
        if self.cc_edges is None:
            with job_group(spark.sparkContext, "diagnostics"):
                self.cc_edges = edges.count()
            # connected_components answers small graphs from a driver-side
            # union-find; its labels then come from a driver-side collection
            # instead of the iterative path's local checkpoints
            lineage = labels._jdf.queryExecution().analyzed().rdd().toDebugString()
            self.cc_fast = int("ParallelCollectionRDD" in lineage)
        for df in (todo, turns, ments, linked, canon, m_triples):
            df.unpersist()

    def check(self, out):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from csvw_rdf_convertor_spark.functions.terms import TRIPLE_COLS
        t = pq.read_table(f"{out}/triples")
        bucket = t["bucket"]   # hive partition column: dictionary of int
        bucket = pc.cast(bucket.cast(bucket.type.value_type), pa.string())
        rows = pc.binary_join_element_wise(
            bucket, *(t[c] for c in TRIPLE_COLS), "\x1f")
        got = gen.digest(rows.to_pylist())
        manifest = sorted(tuple(r.values()) for r in pq.read_table(
            f"{out}/manifest", columns=list(self.MANIFEST)).to_pylist())
        turns, mentions, links, triples = (
            sum(r[i] for r in manifest) for i in range(1, len(self.MANIFEST)))
        expected = (self.TURN_TRIPLES * self.turns + self.tool_turns
                    + self.MENTION_TRIPLES * links)
        # every detected mention has dictionary candidates, so all link
        ok = (got[0] == expected == triples and turns == self.turns
              and links == mentions)
        if self.pinned is not None:
            ok = ok and list(got) == [self.pinned[0], int(self.pinned[1])]
        # passes of one run (plain and traced) must agree with each other
        self.seen = self.seen or (got, manifest)
        return ok and (got, manifest) == self.seen, got[0]

    def diagnostics(self, layers):
        rows = {n: layers[n]["rows_out"] for n in layers}
        turns = self.turns
        return {
            "kg.mentions.mentions_per_turn": rows["kg.mentions"] / turns,
            "kg.linking.link_rate": (rows["kg.linking"] / rows["kg.mentions"]
                                     if rows["kg.mentions"] else 0.0),
            "kg.cc.edges": self.cc_edges,
            "kg.cc.driver_fast_path": self.cc_fast,
            "kg.linking.task_skew": layers["kg.linking"]["task_skew"],
            "kg.cc.task_skew": layers["kg.cc"]["task_skew"],
            "kg.pipeline.write.task_skew": layers["kg.pipeline.write"]["task_skew"],
        }


WORKLOADS = {w.name: w for w in (Csvw2RdfTable, Rdf2CsvwTable, KgTranscripts)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
