package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.spark.ManifestLog
import graft.spark.ManifestLog.{IncrementLog, State}

/** The shared commit protocol: the on-disk manifest format stores have
  * always written, numbered-file discovery, crash/retry of increments,
  * compaction, one-manifest reads, and the params pin. */
class ManifestLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val log = new IncrementLog("TestStore", "id")

  private def text(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
  private def names(root: String) =
    Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet

  /** A data increment holding rows (id) for `ids`. */
  private def appendIds(root: String, ids: Seq[Long]): Long = {
    import spark.implicits._
    log.append(root)(dir => ids.toDF("id").write.parquet(dir.resolve("rows").toString))
  }

  private def ids(root: String, st: State): Set[Long] =
    log.read(spark, root, st, "rows").collect().map(_.getLong(0)).toSet

  test("manifest text: existing stores parse, and commits write the same bytes") {
    val existing = "inc\t1\ninc\t2\ndel\t3\n"
    assert(State.parse(3L, existing) == State(3L, Vector(1L, 2L), Vector(3L)))
    assert(State.render(State(3L, Vector(2L, 1L), Vector(3L))) == existing)
    // a manifest from before deletes existed has no del lines
    assert(State.parse(2L, "inc\t1\ninc\t2\n") == State(2L, Vector(1L, 2L), Vector.empty))

    val root = Files.createTempDirectory("graft-mlog-fmt").toString
    assert(appendIds(root, Seq(1L, 2L)) == 1L)
    assert(appendIds(root, Seq(3L)) == 2L)
    import spark.implicits._
    assert(log.delete(root, Seq(2L).toDF("doc"), "doc") == 3L)
    assert(text(Paths.get(root, "manifest-1.tsv")) == "inc\t1\n")
    assert(text(Paths.get(root, "manifest-3.tsv")) == existing)
    assert(log.state(root) == State.parse(3L, existing))
    assert(names(root) == Set("inc-1", "inc-2", "del-3",
      "manifest-1.tsv", "manifest-2.tsv", "manifest-3.tsv"))
    assert(ids(root, log.state(root)) == Set(1L, 3L))
  }

  test("numbered files: highest K wins numerically; tmp files and other prefixes are ignored") {
    val root = Files.createTempDirectory("graft-mlog-num").toString
    Seq("manifest-9.tsv", "manifest-10.tsv", "manifest-11.tsv.tmp", "snapshot-12.tsv",
      "manifest-x.tsv").foreach(n => Files.write(Paths.get(root, n), Array[Byte]()))
    assert(ManifestLog.numbered(root, "manifest").map(_._1) == Vector(9L, 10L))
    assert(ManifestLog.latest(root, "manifest").map(_._1).contains(10L))
    assert(ManifestLog.latest(root, "snapshot").map(_._1).contains(12L))
    assert(ManifestLog.latest(root + "/missing", "manifest").isEmpty)
  }

  test("crash states: a stale tmp is cleared and a lost manifest flip retries under the same K") {
    val root = Files.createTempDirectory("graft-mlog-crash").toString
    Files.createDirectories(Paths.get(root, "inc-1.tmp", "rows"))
    Files.write(Paths.get(root, "inc-1.tmp", "rows", "garbage"), Array[Byte](1))
    assert(appendIds(root, Seq(1L, 2L)) == 1L)
    assert(!Files.exists(Paths.get(root, "inc-1.tmp")))
    assert(!Files.exists(Paths.get(root, "inc-1", "rows", "garbage")))
    // the data rename happened but the manifest flip did not
    Files.delete(Paths.get(root, "manifest-1.tsv"))
    assert(log.state(root) == State.Empty)
    assert(appendIds(root, Seq(1L, 2L)) == 1L)
    assert(log.read(spark, root, log.state(root), "rows").count() == 2L)
  }

  test("compact lists only the new increment and removes the old inc and del dirs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mlog-compact").toString
    appendIds(root, Seq(1L, 2L))
    appendIds(root, Seq(3L, 4L))
    log.delete(root, Seq(3L).toDF("id"), "id")
    val inc = log.compact(root) { (st, dir) =>
      log.read(spark, root, st, "rows").write.parquet(dir.resolve("rows").toString)
    }
    assert(inc == 4L)
    assert(text(Paths.get(root, "manifest-4.tsv")) == "inc\t4\n")
    assert(names(root).filter(n => n.startsWith("inc-") || n.startsWith("del-")) == Set("inc-4"))
    assert(ids(root, log.state(root)) == Set(1L, 2L, 4L))
  }

  test("a read through one State never sees a later commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mlog-snap").toString
    appendIds(root, Seq(1L, 2L))
    val before = log.state(root)
    appendIds(root, Seq(3L))
    log.delete(root, Seq(1L).toDF("id"), "id")
    assert(ids(root, before) == Set(1L, 2L))
    assert(ids(root, log.state(root)) == Set(2L, 3L))
    // with no tombstones the read is the plain union: no anti-join in the plan
    val plan = log.read(spark, root, before, "rows").queryExecution.optimizedPlan
    assert(!plan.toString.contains("LeftAnti"), plan)
  }

  test("params pin: written once, a matching reuse passes, a mismatch fails fast") {
    val root = Files.createTempDirectory("graft-mlog-pin").toString
    val file = Paths.get(root, "sub", "params.tsv")
    ManifestLog.pin(file, Seq("a" -> "1", "b" -> "x"), "TestStore", "why")
    assert(text(file) == "a\t1\nb\tx\n")
    ManifestLog.pin(file, Seq("a" -> "1", "b" -> "x"), "TestStore", "why")
    // a key the pinned file lacks passes (stores pinned before it existed)
    ManifestLog.pin(file, Seq("a" -> "1", "c" -> "new"), "TestStore", "why")
    val e = intercept[IllegalArgumentException] {
      ManifestLog.pin(file, Seq("a" -> "2"), "TestStore", "why")
    }
    assert(e.getMessage.contains("a: stored=1 now=2"), e.getMessage)
    assert(e.getMessage.contains("refusing") && e.getMessage.contains("does not match"))
    assert(text(file) == "a\t1\nb\tx\n")
    assert(ManifestLog.readParams(Paths.get(root, "none.tsv")).isEmpty)
  }
}
