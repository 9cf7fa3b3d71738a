package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.gen.FixtureGen
import graft.sources.Warc
import org.apache.spark.sql.SparkSession

/** Input generation for the page workloads. Every input derives from the
  * seed through `FixtureGen`, so one seed always yields byte-identical
  * inputs. `curate` generates nothing: it reads the engine's sf tables. */
object Inputs {

  /** `FixtureGen` index range of a seed: seeds map to disjoint ranges of
    * one million indices, so two seeds never share a document. */
  def firstIndex(seed: Long): Long = Math.floorMod(seed, 1000000L) * 1000000L

  /** Index `i` back from a fixture url `https://<host>/docs/<i>/page-<i>.<ext>`. */
  def indexOf(url: String): Long = {
    val a = url.indexOf("/docs/") + 6
    url.substring(a, url.indexOf('/', a)).toLong
  }

  def touchSuccess(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  /** Parquet `pages` corpus of `n` fixtures from index `start`, one file
    * per core. */
  def writePages(spark: SparkSession, dir: Path, start: Long, n: Long, boost: Int): Unit = {
    import spark.implicits._
    spark.range(start, start + n, 1L, spark.sparkContext.defaultParallelism).as[Long]
      .map(i => FixtureGen.fixture(i, boost).row)
      .write.mode("overwrite").parquet(dir.toString)
  }

  /** One WARC record per url: a `conversion` record for text-only rows,
    * a `response` record for every row with a payload. */
  def record(f: FixtureGen.Fixture): Warc.Record = {
    val r = f.row
    val ts = r.warc_ts.toInstant.toString
    if (r.text != null && r.text.nonEmpty) Warc.conversionRecord(r.url, ts, r.text, r.lang)
    else Warc.responseRecord(r.url, ts, r.html)
  }

  /** `n` fixtures from index `start`, dealt round-robin into `nFiles`
    * `.warc.gz` files (one gzip member per record), written by Spark tasks. */
  def writeWarcs(spark: SparkSession, dir: Path, start: Long, n: Long, boost: Int,
      nFiles: Int): Unit = {
    Files.createDirectories(dir)
    val target = dir.toString
    spark.sparkContext.parallelize(0 until nFiles, nFiles).foreach { k =>
      val recs = (k.toLong until n by nFiles.toLong).iterator
        .map(j => record(FixtureGen.fixture(start + j, boost))).toVector
      Files.write(Paths.get(target, f"part-$k%05d.warc.gz"), Warc.writeWarcGz(recs))
    }
    touchSuccess(dir)
  }
}
