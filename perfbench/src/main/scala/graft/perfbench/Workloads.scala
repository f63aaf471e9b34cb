package graft.perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.export.{GraphExporter, GraphImporter}
import graft.model.{PropertyGraph, TpchGraph}
import graft.operators.{Betweenness, GraphAnalytics, Mis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a table: row count plus the exact sum of
  * a 64-bit hash of every row's typed columns. */
final case class Digest(rows: Long, sum: java.math.BigDecimal) {
  override def toString: String = s"$rows:$sum"
}

object Digest {
  def of(df: DataFrame, types: Seq[(String, DataType)]): Digest = {
    val cols = types.sortBy(_._1).map { case (c, t) => col(c).cast(t) }
    val r = df.select(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
  def of(df: DataFrame): Digest = of(df, df.schema.fields.toSeq.map(f => f.name -> f.dataType))
}

/** What one iteration produced, for verification after the timed window. */
sealed trait Output
final case class ExportOutput(pkgDir: Path, zip: Path, imported: Map[String, Digest]) extends Output
final case class GraphOutput(digests: Map[String, Digest],
    types: Map[String, Seq[(String, DataType)]]) extends Output

trait Workload {
  /** One iteration: every call into graft the workload times. */
  def iteration(spark: SparkSession, spans: Spans): Output
  /** Untimed: builds whatever [[verify]] compares against, after the
    * warm-up iteration that produced `warmUp`. */
  def prepareReference(spark: SparkSession, warmUp: Output): Unit
  /** Problems found in an iteration's output; empty when correct. */
  def verify(out: Output): Seq[String]
  /** Units of work one iteration performs, for `rows_per_s`. */
  def rowsPerIteration: Long
  /** Untimed clean-up after an iteration. */
  def cleanUp(): Unit
}

/** Table → node label or relationship pattern, as `TpchGraph` maps them;
  * each output table's expected row count follows from the input rows. */
object Tpch {
  val tableOf: Map[String, String] = Map(
    "Region" -> "region", "Nation" -> "nation", "Customer" -> "customer",
    "Supplier" -> "supplier", "Part" -> "part", "Order" -> "orders",
    "Nation_IN_REGION_Region" -> "nation", "Customer_IN_NATION_Nation" -> "customer",
    "Supplier_LOCATED_IN_Nation" -> "supplier", "Customer_PLACED_Order" -> "orders",
    "Order_CONTAINS_Part" -> "lineitem", "Order_SUPPLIED_BY_Supplier" -> "lineitem")

  def tables(g: PropertyGraph): Map[String, DataFrame] =
    g.nodes ++ g.rels.map { case (p, df) => p.key -> df }

  /** The column type the package model should declare for a source type,
    * read back by the importer: integral → bigint, floating → double,
    * boolean → boolean, everything else as its string rendering. */
  def importedType(t: DataType): DataType = t match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType => DoubleType
    case BooleanType => BooleanType
    case _ => StringType
  }
}

/** Load, export the Data Importer package with the exporter's defaults
  * (one CSV per table, model 3.0, zip), re-import it and read every typed
  * column of every table. */
final class ExportWorkload(data: String, work: Path, inputRows: Map[String, Long]) extends Workload {
  private val pkgDir = work.resolve("package")
  private val zipPath = work.resolve("package-export.zip")
  private var reference: Map[String, Digest] = Map.empty

  val rowsPerIteration: Long = Tpch.tableOf.values.map(inputRows).sum

  def iteration(spark: SparkSession, spans: Spans): Output = {
    val g = spans("model.load")(TpchGraph.load(spark, data))
    // exportAll writes the CSVs and the model, then zips them; the zip
    // file appearing on disk marks the boundary between the two spans
    val watch = if (spans.enabled) Some(ZipWatch.start(zipPath, spans)) else None
    val t0 = spans.now
    spans.tagged("export.write")(GraphExporter.exportAll(g, pkgDir.toString))
    val t1 = spans.now
    watch.foreach { w =>
      val zipStart = w.finish().getOrElse(t1)
      spans.add("export.write", Interval(t0, zipStart))
      spans.add("export.zip", Interval(zipStart, t1))
    }
    val imported = spans("export.import") {
      Tpch.tables(GraphImporter.fromPackage(spark, pkgDir.toString))
        .map { case (name, df) => name -> Digest.of(df) }
    }
    ExportOutput(pkgDir, zipPath, imported)
  }

  /** Digests of the source graph's tables with each column cast to the
    * type a lossless round trip through the package must restore. */
  def prepareReference(spark: SparkSession, warmUp: Output): Unit =
    reference = Tpch.tables(TpchGraph.load(spark, data)).map { case (n, df) =>
      n -> Digest.of(df, df.schema.fields.toSeq.map(f => f.name -> Tpch.importedType(f.dataType)))
    }

  def verify(out: Output): Seq[String] = out match {
    case ExportOutput(dir, zip, imported) =>
      val written = Files.list(dir).iterator().asScala.toSeq
        .filter(p => Files.isRegularFile(p)).map(p => p.getFileName.toString -> Files.size(p))
        .filter { case (n, _) => n.endsWith(".csv") || n == "neo4j_importer_model.json" }.toMap
      val zf = new java.util.zip.ZipFile(zip.toFile)
      val zipped = try zf.entries().asScala.map(e => e.getName -> e.getSize).toMap finally zf.close()
      val zipProblems =
        if (zipped == written) Nil
        else Seq(s"zip entries ${zipped.toSeq.sorted} differ from files written ${written.toSeq.sorted}")
      val csvProblems = Tpch.tableOf.toSeq.sorted.flatMap { case (name, table) =>
        val lines = Lines.count(dir.resolve(s"$name.csv")) - 1
        if (lines == inputRows(table)) None
        else Some(s"$name.csv has $lines rows, $table has ${inputRows(table)}")
      }
      val digestProblems = reference.toSeq.sortBy(_._1).flatMap { case (name, want) =>
        val got = imported.get(name)
        if (got.contains(want)) None else Some(s"re-imported $name digest $got, source $want")
      }
      zipProblems ++ csvProblems ++ digestProblems
    case other => Seq(s"unexpected output $other")
  }

  def packageBytes: Long = Files.size(zipPath)

  /** Bytes of the files the zip packs. */
  def packageInputBytes: Long = Files.list(pkgDir).iterator().asScala
    .filter(p => Files.isRegularFile(p)).map(p => Files.size(p)).sum

  def cleanUp(): Unit = {
    Files.deleteIfExists(zipPath)
    graft.tools.Fs.deleteRecursively(pkgDir.toString)
  }
}

/** Five graph operators over one unified edge list, with the parameters
  * of the g_pagerank, g_label_propagation, g_sssp, g_mis and
  * g_betweenness queries and the program's own driver-local gates. Each
  * operator's output is checked against the rows its DuckDB oracle query
  * returns for the same input. */
final class GraphWorkload(data: String, refDir: Path) extends Workload {
  private var reference: Map[String, Digest] = Map.empty
  private var outputTypes: Map[String, Seq[(String, DataType)]] = Map.empty
  private var edgeRows = 0L

  /** g_sssp's per-relationship-type costs. */
  private val SsspWeights: Map[String, Long] = Map(
    "Nation_IN_REGION_Region" -> 2L, "Customer_IN_NATION_Nation" -> 3L,
    "Supplier_LOCATED_IN_Nation" -> 4L, "Customer_PLACED_Order" -> 5L,
    "Order_CONTAINS_Part" -> 7L, "Order_SUPPLIED_BY_Supplier" -> 6L)

  val ops: Seq[String] = Seq("pagerank", "lpa", "sssp", "mis", "betweenness")

  def rowsPerIteration: Long = edgeRows * ops.size

  /** Directed rows of the unified edge list, the quantity the operators'
    * driver-local caps are compared with. */
  def directedEdgeRows: Long = edgeRows

  def iteration(spark: SparkSession, spans: Spans): Output = {
    val g = spans("model.load")(TpchGraph.load(spark, data))
    val (edges, labels, weighted, hint) = spans("model.unified_edges") {
      val (e, labels) = GraphAnalytics.unifiedEdges(g)
      val (w, _) = GraphAnalytics.unifiedEdgesWeighted(g, p => SsspWeights(p.key))
      (e, labels, w, GraphAnalytics.unifiedEdgeRowsBound(g))
    }
    edgeRows = hint
    def decoded(df: DataFrame, valueCol: String, as: String) =
      GraphAnalytics.decode(df, "vid", labels)
        .select(col("label"), col("node_id"), col(valueCol).as(as))
    def run(op: String): DataFrame = op match {
      case "pagerank" =>
        decoded(GraphAnalytics.pageRankQuantizedDF(edges, numIter = 10), "rank", "pagerank")
      case "lpa" =>
        decoded(GraphAnalytics.labelPropagationDF(edges, numIter = 5), "community", "community")
      case "sssp" =>
        val regionIdx = labels.indexOf("Region").toLong
        val sources = weighted.select(col("src").as("vid"))
          .unionAll(weighted.select(col("dst").as("vid")))
          .where(shiftright(col("vid"), 44) === regionIdx)
        decoded(GraphAnalytics.ssspDistances(weighted, sources, rounds = 6), "dist", "dist")
      case "mis" =>
        Mis.maximalIndependentSet(edges, rounds = 8, seed = 7L, stagingRowsHint = Some(hint))
      case "betweenness" =>
        decoded(Betweenness.pivotBetweenness(edges, nPivots = 4, horizon = 6, seed = 11L,
          stagingRowsHint = Some(hint)), "betweenness", "betweenness")
    }
    val outs = ops.map { op =>
      spans(s"ops.$op") {
        val df = run(op)
        op -> (Digest.of(df), df.schema.fields.toSeq.map(f => f.name -> f.dataType))
      }
    }
    GraphOutput(outs.map { case (op, (d, _)) => op -> d }.toMap,
      outs.map { case (op, (_, t)) => op -> t }.toMap)
  }

  /** The oracle's rows, cast to the types the operator returned. */
  def prepareReference(spark: SparkSession, warmUp: Output): Unit = warmUp match {
    case GraphOutput(_, types) =>
      outputTypes = types
      reference = ops.map { op =>
        op -> Digest.of(spark.read.parquet(refDir.resolve(s"$op.parquet").toString), types(op))
      }.toMap
    case other => sys.error(s"unexpected output $other")
  }

  def verify(out: Output): Seq[String] = out match {
    case GraphOutput(digests, types) => ops.flatMap { op =>
      if (digests.get(op) == reference.get(op) && types.get(op) == outputTypes.get(op)) None
      else Some(s"$op digest ${digests.get(op)}, oracle ${reference.get(op)}")
    }
    case other => Seq(s"unexpected output $other")
  }

  def cleanUp(): Unit = ()
}

/** Notes when the exporter opens its zip, which ends the CSV-writing part
  * of `exportAll` and starts the packaging part. */
final class ZipWatch(zip: Path, spans: Spans) extends Thread("zip-watch") {
  @volatile private var seen: Option[Double] = None
  @volatile private var running = true
  setDaemon(true)
  override def run(): Unit =
    while (running && seen.isEmpty) {
      if (Files.exists(zip)) seen = Some(spans.now) else Thread.sleep(1)
    }
  def finish(): Option[Double] = { running = false; join(); seen }
}

object ZipWatch {
  def start(zip: Path, spans: Spans): ZipWatch = { val w = new ZipWatch(zip, spans); w.start(); w }
}

object Lines {
  /** Newline count of a file. */
  def count(p: Path): Long = {
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = 0L
      var r = in.read(buf)
      while (r > 0) {
        var i = 0
        while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
        r = in.read(buf)
      }
      n
    } finally in.close()
  }
}
