package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry
import graft.gen.FixtureGen
import graft.sources.Warc
import graft.spark.{ExtractJob, SnapshotStore}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** One call of the closed loop. `wallS` is the time the end-to-end metric
  * counts (for ingest: the four `SnapshotStore.run` calls only);
  * `opWallS` is the whole call, the base for scheduler counters. Neither
  * covers `Workload.settle`. */
final case class Sample(wallS: Double, opWallS: Double, ingest: Option[IngestSample] = None)

/** The store figures of one ingest; `settle` fills the last three. */
final case class IngestSample(runS: Vector[Double], manifestMs: Double, rangeReadS: Double,
    filesCommitted: Int, filesRead: Int, storeBytes: Long = 0L, inputBytes: Long = 0L,
    lineageRows: Long = 0L)

trait Workload {
  /** Marker tag `FixtureStore.ensure` keys the generated input on. */
  def tag: String
  /** Documents one call (or one pass, for curate) processes. */
  def docs: Long
  /** Names of the calls one pass of the closed loop makes, in order. */
  def calls: Vector[String]
  /** Passes the closed loop may start. */
  def maxPasses: Int = Int.MaxValue
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int = 5
  def generate(spark: SparkSession, dir: Path): Unit
  /** The engine work of one call, nothing else: the traced run charges
    * every Spark job started inside it to the engine. */
  def call(spark: SparkSession, tr: Tracer, dir: Path, name: String): Sample
  /** Untimed bookkeeping after `call` and after its counters were read:
    * results kept for the check, store sizes when `detail`. */
  def settle(spark: SparkSession, dir: Path, name: String, s: Sample, detail: Boolean): Sample = s
  /** Untimed pass that also warms the JIT; returns every mismatch found. */
  def gate(spark: SparkSession, tr: Tracer, dir: Path): Vector[String]
  /** FixtureGen pages the core probe parses: the workload's own documents. */
  def coreSample(k: Int): Vector[graft.core.PageRow]
}

object Workloads {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.delete)

  def treeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum

  /** Texts keyed by url that differ from `FixtureGen.fixture(i, boost).golden`,
    * plus the row and distinct-url counts of `urlText`. */
  def goldenCheck(spark: SparkSession, urlText: DataFrame, boost: Int): (Long, Long, Long) = {
    import spark.implicits._
    val r = urlText.select(col("url"), col("text")).as[(String, String)]
      .map { case (u, t) =>
        (u, if (FixtureGen.fixture(Inputs.indexOf(u), boost).golden == t) 0L else 1L)
      }
      .toDF("url", "bad")
      .agg(count(lit(1)), countDistinct(col("url")), sum(col("bad")))
      .head()
    (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def apply(name: String, seed: Long, tiny: Boolean, tables: Path): Workload = name match {
    case "extract" => new Extract(Inputs.firstIndex(seed), if (tiny) 2000 else 16000)
    case "ingest"  => new Ingest(Inputs.firstIndex(seed), if (tiny) 2000 else 4000)
    case "curate"  => new Curate(seed, tables)
    case other     => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fixtures(start: Long, k: Int, boost: Int): Vector[graft.core.PageRow] =
    (0 until k).map(j => FixtureGen.fixture(start + j, boost).row).toVector
}

import Workloads._

/** Parquet pages at size boost 8 → `ExtractJob.extractTexts` → noop sink. */
final class Extract(start: Long, n: Long) extends Workload {
  val boost = 8
  def tag = s"extract-$start-$n-$boost-v${FixtureGen.Version}"
  def docs = n
  def calls = Vector("extractTexts")
  def coreSample(k: Int) = fixtures(start, k, boost)

  def generate(spark: SparkSession, dir: Path): Unit =
    Inputs.writePages(spark, dir, start, n, boost)

  def call(spark: SparkSession, tr: Tracer, dir: Path, name: String): Sample = {
    val t0 = System.nanoTime()
    tr.span("spark", "ExtractJob.extractTexts") {
      noop(ExtractJob.extractTexts(spark, spark.read.parquet(dir.toString)).toDF())
    }
    val s = seconds(t0)
    Sample(s, s)
  }

  def gate(spark: SparkSession, tr: Tracer, dir: Path): Vector[String] = {
    val out = ExtractJob.extractTexts(spark, spark.read.parquet(dir.toString)).toDF()
    val (rows, urls, bad) = goldenCheck(spark, out, boost)
    Vector(
      Option.when(rows != n || urls != n)(s"extract: $rows rows / $urls urls, expected $n"),
      Option.when(bad != 0)(s"extract: $bad texts differ from the goldens")).flatten
  }
}

/** `.warc.gz` files at size boost 1 → `Warc.readPages` → `SnapshotStore.run`
  * in four resumable increments → a host-filtered ranged read. */
final class Ingest(start: Long, n: Long) extends Workload {
  val boost = 1
  val nFiles = 16
  def tag = s"ingest-$start-$n-$boost-$nFiles-v${FixtureGen.Version}"
  def docs = n
  def calls = Vector("ingest")
  def coreSample(k: Int) = fixtures(start, k, boost)

  def generate(spark: SparkSession, dir: Path): Unit =
    Inputs.writeWarcs(spark, dir, start, n, boost, nFiles)

  private def store(dir: Path) = dir.getParent.resolve("store")

  def call(spark: SparkSession, tr: Tracer, dir: Path, name: String): Sample =
    Ingest.op(spark, tr, dir, store(dir))

  override def settle(spark: SparkSession, dir: Path, name: String, s: Sample,
      detail: Boolean): Sample =
    if (!detail) s
    else s.copy(ingest = s.ingest.map(_.copy(storeBytes = treeBytes(store(dir)),
      inputBytes = treeBytes(dir),
      lineageRows = spark.read.parquet(store(dir).resolve("lineage").toString + "/*").count())))

  def gate(spark: SparkSession, tr: Tracer, dir: Path): Vector[String] = {
    Ingest.op(spark, tr, dir, store(dir))
    Ingest.check(spark, store(dir).toString, n, boost)
  }
}

object Ingest {
  val Host = "mega.example"
  val Increments = 4

  /** One ingest into a fresh store: four `run` increments of 4/16 buckets,
    * then `lastSnapshot` and a ranged read of one host. */
  def op(spark: SparkSession, tr: Tracer, warcDir: Path, root: Path): Sample = {
    delete(root)
    val t0 = System.nanoTime()
    val pages = tr.span("sources", "Warc.readPages") {
      Warc.readPages(spark, warcDir.toString + "/*.warc.gz")
    }
    val runS = (1 to Increments).map { k =>
      val t = System.nanoTime()
      tr.span("spark", "SnapshotStore.run") {
        SnapshotStore.run(spark, pages, root.toString, s"r$k", nBuckets = 16, maxBuckets = 4)
      }
      seconds(t)
    }.toVector
    val tm = System.nanoTime()
    val snap = tr.span("spark", "SnapshotStore.lastSnapshot") {
      SnapshotStore.lastSnapshot(root.toString)
    }.get
    val manifestMs = seconds(tm) * 1e3
    val tr0 = System.nanoTime()
    tr.span("spark", "SnapshotStore.readCommittedRange") {
      noop(SnapshotStore.readCommittedRange(spark, root.toString, host = Some(Host)).get)
    }
    val rangeS = seconds(tr0)
    val opS = seconds(t0)
    Sample(runS.sum, opS, Some(IngestSample(runS, manifestMs, rangeS, snap.files.length,
      SnapshotStore.pruneFiles(snap, host = Some(Host)).length)))
  }

  /** Exactly-once commit, golden texts, lineage totals, snapshot count and
    * ranged-read equality for the store at `root`. */
  def check(spark: SparkSession, root: String, n: Long, boost: Int): Vector[String] = {
    val committed = SnapshotStore.readCommitted(spark, root).get.select(col("url"), col("text"))
    val (rows, urls, bad) = goldenCheck(spark, committed, boost)
    val lineageDocs = spark.read.parquet(root + "/lineage/*").agg(sum(col("doc_count"))).head().getLong(0)
    val snap = SnapshotStore.lastSnapshot(root)
    val hostOf = regexp_extract(col("url"), "^[a-z]+://([^/:]+)", 1)
    val ranged = SnapshotStore.readCommittedRange(spark, root, host = Some(Host)).get
      .select(col("url"), col("text"))
    val expected = committed.filter(hostOf === Host)
    val rangedN = ranged.count()
    val diff = ranged.exceptAll(expected).count() + expected.exceptAll(ranged).count()
    Vector(
      Option.when(rows != n || urls != n)(s"ingest: $rows rows / $urls urls committed, expected $n once each"),
      Option.when(bad != 0)(s"ingest: $bad committed texts differ from the goldens"),
      Option.when(lineageDocs != n)(s"ingest: lineage doc_count sums to $lineageDocs, expected $n"),
      Option.when(!snap.exists(s => s.id == Increments && s.buckets.size == 16))(
        s"ingest: last snapshot ${snap.map(s => (s.id, s.buckets.size))}, expected ($Increments,16)"),
      Option.when(diff != 0 || rangedN == 0)(
        s"ingest: ranged read of $Host differs from the filtered full read ($diff rows, $rangedN read)")
    ).flatten
  }
}

/** Five curation queries over the engine's sf test tables (`tables`: seed 42, read-only, the `sf0.01` set in
  * perfbench/data) in one session, `resetSharedState()` before each. The
  * run seed only permutes the query order. One pass is timed, the first in
  * the session, which is what a batch curation job pays: a warm second pass
  * would double a run's length. Each result is collected (the timed sink)
  * and written out by `settle` for the DuckDB check that run.py makes with
  * tools/selfcheck.py. Set-up is the session plus
  * `SparkEntry.ensureFixtures` over the tables, regenerated every time;
  * it costs several seconds, so a run sets up three times, not five. */
final class Curate(seed: Long, tables: Path) extends Workload {
  def tag = s"curate-${tables.getFileName}-v${FixtureGen.Version}"
  /** Rows of `documents`, the corpus every query curates. */
  lazy val docs = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new HPath(tables.resolve("documents.parquet").toUri), new Configuration()))
    try r.getRecordCount finally r.close()
  }
  val calls = new Random(seed).shuffle(Curate.Queries)
  override def maxPasses = 1
  override def setups = 3
  def coreSample(k: Int) = fixtures(Inputs.firstIndex(seed), k, 1)

  /** `ensureFixtures` keeps its fixtures under java.io.tmpdir, marker
    * guarded: they are dropped first so that every set-up generates them. */
  def generate(spark: SparkSession, dir: Path): Unit = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala.filter(_.getFileName.toString.startsWith("graft_"))
      .toVector.foreach(delete)
    SparkEntry.ensureFixtures(spark, tables.toString)
    Inputs.touchSuccess(dir)
  }

  private def results(dir: Path) = dir.getParent.resolve("results")
  private var collected: (StructType, Array[Row]) = _

  def call(spark: SparkSession, tr: Tracer, dir: Path, name: String): Sample = {
    SparkEntry.resetSharedState()
    val t0 = System.nanoTime()
    collected = tr.span("ops", name) {
      val df = SparkEntry.queries(name)(spark, tables.toString)
      (df.schema, df.collect())
    }
    val s = seconds(t0)
    Sample(s, s)
  }

  override def settle(spark: SparkSession, dir: Path, name: String, s: Sample,
      detail: Boolean): Sample = {
    val (schema, rows) = collected
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(results(dir).resolve(name).toString)
    s
  }

  /** The oracle SQL the DuckDB check runs; the results come from `settle`. */
  def gate(spark: SparkSession, tr: Tracer, dir: Path): Vector[String] = {
    val out = results(dir)
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.render(Curate.Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    Files.writeString(out.resolve("pyfold_sql.json"), Json.render(SparkEntry.pyfoldSql))
    Vector.empty
  }
}

object Curate {
  /** q_curation_funnel runs `Dedup.dedupClusters` (q_dedup_clusters) and
    * q_classifier_eval runs `Train.linearFit` and `Classifier.linearScore`
    * (q_train_linear, q_distill_score), so these five cover the operators
    * of those three as well. */
  val Queries = Vector("q_curation_funnel", "q_classifier_eval", "q_link_pagerank",
    "q_cosine_neardup", "q_store_delete")
}
