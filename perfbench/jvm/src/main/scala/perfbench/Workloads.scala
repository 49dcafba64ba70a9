package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.SparkEntry
import graft.mr.{AssociativeMRJob, InvertedIndexFast, KeyValue, MRApps, MRJob,
  WordCountFast}

/** One unit of work in a pass: an MR app run or a driver query. */
trait Item {
  def name: String
  def kind: String
  /** Calls the engine's entry point. Plans are analyzed here, and a
    * driver loop runs its rounds here.
    */
  def build(): Dataset[_]
  /** Materializes every row and column of a built result. */
  def sink(result: Dataset[_]): Unit
  /** Untimed check of what the last [[sink]] wrote; None when correct. */
  def checkRun(): Option[String]
  /** Untimed: runs the item once and checks its whole output. Used for
    * the warm-up and for the final check after the timed passes.
    */
  def warm(): Option[String]
  /** The same result counted instead of materialized: the `count()`
    * side of the bridge to the `count()` series of `graft.Bench`.
    */
  def count(): Long = build().count()
}

/** A driver query, materialized through the no-op sink. The no-op sink
  * leaves nothing to check after a timed run, so [[warm]] checks an
  * order-insensitive digest of every row, before the timed passes and
  * again after them.
  */
final class QueryItem(spark: SparkSession, val name: String, dataDir: String,
    expected: Option[String])
    extends Item {
  def kind: String = "query"
  def build(): DataFrame = SparkEntry.queries(name)(spark, dataDir)
  def sink(result: Dataset[_]): Unit =
    result.write.format("noop").mode("overwrite").save()
  def checkRun(): Option[String] = None
  def warm(): Option[String] = {
    val d = build()
    val got = Digest.of(d.schema.fieldNames.toSeq, d.collect())
    expected match {
      case Some(e) if e == got => None
      case Some(e) => Some(s"digest $got, expected $e")
      case None => Some("no recorded digest")
    }
  }
}

/** An MR app over the generated corpus, written with `MRJob.writeText`
  * and checked against the corpus's ground truth after every run. A
  * combiner item also checks that it agrees with the generic item of
  * the same app.
  */
final class MrItem(spark: SparkSession, app: String, combiner: Boolean,
    corpus: Corpus, inputs: Seq[String], outRoot: Path) extends Item {
  val name: String = if (combiner) s"$app+combiner" else app
  def kind: String = "mr"
  private val out = outRoot.resolve(name)
  private val genericOut = outRoot.resolve(app)
  def build(): Dataset[KeyValue] =
    if (!combiner) MRJob.run(spark, MRApps.byName(app), inputs)
    else if (app == "wc") AssociativeMRJob.run(spark, WordCountFast, inputs)
    else AssociativeMRJob.run(spark, InvertedIndexFast, inputs)
  def sink(result: Dataset[_]): Unit =
    MRJob.writeText(result.asInstanceOf[Dataset[KeyValue]], out.toString)
  def checkRun(): Option[String] = {
    val got = Corpus.readOutput(out)
    Corpus.diff(corpus.expected(app), got).orElse(
      if (combiner && Files.isDirectory(genericOut))
        Corpus.diff(Corpus.readOutput(genericOut), got)
          .map("disagrees with the generic path: " + _)
      else None)
  }
  def warm(): Option[String] = { sink(build()); checkRun() }
}

/** A named workload: the MR corpus it generates, or the driver
  * queries it runs, each with the scale factor of its input tables.
  */
final case class Workload(
    name: String,
    queries: Seq[(String, String)],
    corpusFiles: Int = 0,
    corpusTokens: Int = 0,
    corpusVocab: Int = 0) {
  def isMr: Boolean = queries.isEmpty
}

object Workloads {

  val all: Seq[Workload] = Seq(
    // The paper's own workload: three MR apps on the generic path and
    // two on the combiner path over a generated Zipf corpus.
    Workload("mr_corpus", Nil,
      corpusFiles = 8, corpusTokens = 200000, corpusVocab = 20000),
    // Driver queries of three kinds: compute-bound dedup operators
    // (work in tasks and shuffles), a graph loop (many short jobs, a
    // lineage barrier per round) and short relational, event and
    // SQL-face queries (analysis, optimizer rules, planning, AQE).
    Workload("driver_queries", Seq(
      "q_dedup_minhash" -> "sf0.1", "q_dedup_simhash" -> "sf0.1",
      "q_graph_kcore" -> "sf0.01", "q1_pricing" -> "sf0.01",
      "q_events_funnel" -> "sf0.01", "q_sql_topk" -> "sf0.01")))

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  val mrApps: Seq[(String, Boolean)] = Seq(
    "wc" -> false, "indexer" -> false, "crashpayload" -> false,
    "wc" -> true, "indexer" -> true)
}
