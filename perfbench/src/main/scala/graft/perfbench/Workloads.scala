package graft.perfbench

import graft.SparkEntry
import graft.ml.{FeaturePipeline, KMeansScan}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one call into the engine returned, and how the harness sinks it
  * (timed passes) or records it for the output check (check pass). */
sealed trait Out {
  /** Sink the result the way a user would; timed as the call's consume. */
  def consume(): Unit
  /** Write the result under `dir` for the output check; returns the
    * canonical text a digest is taken of, for outputs without an oracle. */
  def record(dir: String, name: String, digest: Boolean): Option[String]
}

object Out {
  /** One field of a digest's canonical text; doubles at 6 dp. */
  private def field(x: Any): String = x match {
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case null => "null"
    case v => v.toString
  }

  /** Canonical text of a small frame: rows as `|`-joined fields, sorted,
    * so the digest ignores row order. */
  def canonical(rows: Seq[Row]): String =
    rows.map(_.toSeq.map(field).mkString("|")).sorted.mkString("\n")

  /** A frame, consumed with Spark's `noop` sink: every projected column is
    * computed and nothing is pruned away, unlike `count()`. */
  final case class Frame(df: DataFrame) extends Out {
    def consume(): Unit = df.write.format("noop").mode("overwrite").save()
    def record(dir: String, name: String, digest: Boolean): Option[String] = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      if (digest) Some(canonical(df.collect().toSeq)) else None
    }
  }

  /** The k-scan's results; the scan itself is eager, nothing to sink. */
  final case class Scan(results: Seq[KMeansScan.ScanResult]) extends Out {
    def consume(): Unit = ()
    def record(dir: String, name: String, digest: Boolean): Option[String] =
      Some(results.map { r =>
        (r.k +: r.silhouette +: r.centers.flatten.toSeq).map(field).mkString("|")
      }.mkString("\n"))
  }

  /** The pipeline's results table, sunk the reference way: a driver CSV. */
  final case class Csv(df: DataFrame, path: String) extends Out {
    def consume(): Unit = KMeansScan.saveResultsCsv(df, path)
    def record(dir: String, name: String, digest: Boolean): Option[String] = {
      val p = s"$dir/$name.csv"
      KMeansScan.saveResultsCsv(df, p)
      Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
    }
  }
}

/** One call into a public entry point of the engine. `digest` marks an
  * output without a DuckDB oracle, checked against a committed digest. */
final case class Call(name: String, digest: Boolean = false)(
    val run: (SparkSession, String) => Out)

/** A workload is a list of units; a unit is a chain of calls that share
  * memoized intermediates in a fixed order. The seed shuffles the units of
  * each pass; chains keep their order so every memo build is billed to the
  * same consumer whatever the seed. */
final case class Workload(units: Seq[Seq[Call]]) {
  def calls: Seq[Call] = units.flatten
}

object Workloads {
  private def entry(name: String, digest: Boolean = false): Call =
    Call(name, digest)((s, d) => Out.Frame(SparkEntry.queries(name)(s, d)))

  private def csvPath(): String =
    graft.operators.Scale.scratchDir("perfbench_results") + "/clustering_results.csv"

  /** The paper's pipeline: features → k=2..6 scan (five models written)
    * → results table and CSV, then the best k and the per-row cluster
    * assignments from the same scan. */
  val kmeansPipeline: Workload = Workload(Seq(Seq(
    Call("ml_prepare")((s, d) => Out.Frame(FeaturePipeline.prepareData(s, d))),
    Call("ml_scan", digest = true)((s, d) => Out.Scan(KMeansScan.scanCached(s, d))),
    Call("ml_results", digest = true)((s, d) => Out.Csv(
      KMeansScan.resultsFrame(s, KMeansScan.scanCached(s, d),
        FeaturePipeline.featureNames(s, d).toSeq), csvPath())),
    entry("q_best_k", digest = true),
    entry("q_kmeans_assignments", digest = true))))

  /** Short calls of three kinds in seeded order: TPC-H SQL (planning- and
    * join-heavy, no memo), a stateful stream (state store, WAL and commit
    * writes) and the dedup chain (pair mining, connected-component loop
    * rounds, eager checkpoints, memoized pairs shared in chain order). */
  val queryMix: Workload = Workload(
    Seq(1, 3, 6, 18).map(i => Seq(entry(s"q_sql_tpch_q$i"))) ++ Seq(
      Seq(entry("q_stream_sessions_tws")),
      Seq(entry("q_dedup_components"), entry("q_dedup_ngram_prefix"))))

  val all: Map[String, Workload] = Map(
    "kmeans_pipeline" -> kmeansPipeline,
    "query_mix" -> queryMix)
}
