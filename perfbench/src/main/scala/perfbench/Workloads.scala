package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: a pipeline config over a `source` keyspace (the
  * generated input) and a `sink` keyspace, plus the check its output must
  * pass after every pass.
  */
abstract class Workload(val inputDir: String, val sinkDir: String) {
  def config: String

  /** Stages that run a distributed fixpoint; the trace also reports their
    * jobs as `fixpoint.*`.
    */
  def fixpointStages: Set[String] = Set.empty

  /** Unmeasured passes after the cold one and [[prepare]]. */
  def warmupPasses: Int = 1

  /** A warm pass's length on the 4-core host the benchmark was sized on;
    * `seconds` / this is the number of measured passes.
    */
  def passSeconds: Double

  /** Prepares what the checks compare against; runs once, after the cold
    * pass, so it does not warm the cold pass.
    */
  def prepare(spark: SparkSession): Unit = ()

  /** The error in the output the last pass left in the sink, if any. */
  def check(spark: SparkSession): Option[String]

  /** A more thorough check, run on the first pass only. */
  def fullCheck(spark: SparkSession): Option[String] = check(spark)

  protected def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(s"$sinkDir/$name.parquet")

  protected def expectedLines: Seq[String] =
    Files.read(new File(inputDir, "expected.tsv")).split("\n").toSeq.filter(_.nonEmpty)

  protected def tsv(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.mkString("\t")).sorted

  protected def diff(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else Some(s"$what: ${got.size} rows vs ${want.size} expected; first difference " +
      got.zipAll(want, "<none>", "<none>").find { case (a, b) => a != b }.getOrElse(""))
}

object Workload {
  def apply(name: String, repoRoot: String, inputDir: String, sinkDir: String): Workload =
    name match {
      case "etl_roundtrip" => new EtlRoundtrip(inputDir, sinkDir)
      case "curate_chain"  => new CurateChain(repoRoot, inputDir, sinkDir)
      case "graph_cc"      => new GraphCc(inputDir, sinkDir)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

/** The reference's own surface: Extract, SQL, Load with a partitioned
  * Overwrite, Execute through the connector, and an Extract of the table it
  * wrote. Checked against DuckDB's aggregate over the same parquet.
  */
final class EtlRoundtrip(inputDir: String, sinkDir: String) extends Workload(inputDir, sinkDir) {
  val passSeconds = 3.0
  val config: String = s"""
    stages = [
      { type = Extract, name = "extract orders", connection = source
        table = orders, outputView = orders }
      { type = Extract, name = "extract lineitem", connection = source
        table = lineitem, outputView = lineitem }
      { type = SqlTransform, name = "enrich lines", outputView = enriched
        sql = \"\"\"SELECT l.l_orderkey, l.l_linenumber, o.o_custkey,
            o.o_nationkey, CAST(year(o.o_orderdate) AS INT) AS o_year,
            o.o_priority, l.l_returnflag, l.l_shipmode, l.l_quantity,
            l.l_price_cents * (100 - l.l_discount_pct) AS revenue
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey\"\"\" }
      { type = Load, name = "load enriched", connection = sink
        inputView = enriched, table = enriched, saveMode = Overwrite
        params { "confirm.truncate" = "true", "disk.partitionBy" = "o_year" } }
      { type = SqlTransform, name = "aggregate revenue", outputView = revenue
        sql = \"\"\"SELECT o_nationkey, o_year, l_returnflag, COUNT(*) AS n_lines,
            SUM(l_quantity) AS qty, SUM(revenue) AS revenue
          FROM enriched GROUP BY o_nationkey, o_year, l_returnflag\"\"\" }
      { type = Load, name = "load revenue", connection = sink
        inputView = revenue, table = revenue, saveMode = Overwrite
        params { "confirm.truncate" = "true" } }
      { type = Execute, name = "count written lines", connection = sink
        sql = "SELECT COUNT(*) FROM parquet.`$${dir}/enriched.parquet`"
        sqlParams { dir = "$sinkDir" } }
      { type = Extract, name = "read back revenue", connection = sink
        table = revenue, outputView = revenue_back }
    ]"""

  def check(spark: SparkSession): Option[String] =
    diff("revenue", tsv(table(spark, "revenue")), expectedLines)
}

/** `examples/curate.conf` verbatim over generated documents with planted
  * exact and near duplicates. Checked against the direct-API twin of the
  * same chain, and for the removal of every planted exact duplicate.
  */
final class CurateChain(repoRoot: String, inputDir: String, sinkDir: String)
    extends Workload(inputDir, sinkDir) {
  val config: String = Files.read(new File(repoRoot, "examples/curate.conf"))
  // the twin in `prepare` runs the same operators and warms them
  override val warmupPasses = 0
  val passSeconds = 7.0
  private val cols = Seq("doc_id", "lang", "n_tokens", "score", "rank")
  private var twin: Seq[String] = Nil
  private lazy val exactDups: Set[Long] =
    Files.read(new File(inputDir, "exact_dups.txt")).split("\n")
      .filter(_.nonEmpty).map(_.toLong).toSet

  override def prepare(spark: SparkSession): Unit =
    twin = tsv(graft.SparkEntry.queries("curate_pretrain")(spark, inputDir)
      .select(cols.head, cols.tail: _*))

  def check(spark: SparkSession): Option[String] = {
    val out = table(spark, "curated_documents").select(cols.head, cols.tail: _*)
    val got = tsv(out)
    val kept = got.map(_.takeWhile(_ != '\t').toLong).toSet
    val survivors = exactDups.intersect(kept)
    if (survivors.nonEmpty) Some(s"${survivors.size} planted exact duplicates survived")
    else if (twin.isEmpty) None // the cold pass runs before the twin exists
    else diff("curated_documents vs curate_pretrain", got, twin)
  }
}

/** Weakly connected components over planted chains with chords. Each
  * component's (label, size, node checksum) must match the planted one; the
  * first pass also checks every node's label.
  */
final class GraphCc(inputDir: String, sinkDir: String) extends Workload(inputDir, sinkDir) {
  override val fixpointStages = Set("connected components")
  val passSeconds = 5.0
  val config: String = s"""
    stages = [
      { type = Extract, name = "extract edges", connection = source
        table = edges, outputView = edges }
      { type = GraphTransform, name = "connected components", method = cc
        inputView = edges, outputView = labels, srcCol = src, dstCol = dst }
      { type = SqlTransform, name = "summarise components", outputView = components
        sql = \"\"\"SELECT component, COUNT(*) AS n_nodes,
            SUM(pmod(node * 2654435761, 1000003)) AS node_mix
          FROM labels GROUP BY component\"\"\" }
      { type = Load, name = "load components", connection = sink
        inputView = components, table = components, saveMode = Overwrite
        params { "confirm.truncate" = "true" } }
    ]"""

  def check(spark: SparkSession): Option[String] =
    diff("components", tsv(table(spark, "components")), expectedLines)

  override def fullCheck(spark: SparkSession): Option[String] = check(spark).orElse {
    val truth = spark.read.parquet(s"$inputDir/truth.parquet")
    val labels = spark.table("labels")
    val wrong = labels.join(truth, labels("node") === truth("node"), "full_outer")
      .where(!(labels("component") <=> truth("expected"))).count()
    if (wrong == 0) None else Some(s"$wrong nodes carry a wrong component label")
  }
}
