package graft.ops

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.spark.ManifestLog

/** Persisted IVF VECTOR index — the embedding analogue of [[IndexStore]]
  * (postings) and [[NearDupStore]] (LSH keys), completing the store tier:
  * centroids are TRAINED ONCE on the first crawl increment and pinned;
  * every later increment's vectors are assigned to those cells and
  * committed, so ANN queries over the full corpus cost a cell-pruned scan
  * of stored (vec_id, cell, embedding) rows — the FAISS IVF discipline
  * (train the coarse quantizer once, add in batches), kept relational.
  *
  * Commit discipline = [[graft.spark.ManifestLog.IncrementLog]]: atomic
  * increment and manifest flips, idempotent retry, tombstone anti-join.
  * `params.tsv` records (dim, nCells, sampleSize) once, at [[create]]
  * (vectors assigned under different centroids are not co-queryable).
  *
  * Layout under `root/`:
  *   params.tsv                 dim / nCells / sampleSize
  *   centroids/        parquet  (cell, centroid ARRAY<DOUBLE>) — written
  *                              once by [[create]], never rewritten
  *   inc-<K>/vectors/  parquet  (vec_id, embedding, cell)
  *   del-<K>/ids/      parquet  (vec_id) tombstones ([[delete]])
  *   manifest-<K>.tsv           committed inc/del increments so far
  *
  * 100-TB shape: the centroid table is nCells×dim doubles (driver-safe
  * by construction — the [[Similarity.trainCentroids]] bound); increments
  * hold one row per vector. Queries probe nProbe cells, so the join
  * reads |corpus|·nProbe/nCells candidate rows, and the plan is the SAME
  * [[Similarity.ivfTopKWith]] join the recompute path runs. */
object VectorStore {

  private val log = new ManifestLog.IncrementLog("VectorStore", "vec_id")

  /** Train centroids on `firstIncrement` (the [[Similarity.trainCentroids]]
    * deterministic quantizer: first-nCells seeds by vec_id, one Lloyd
    * step over the first sampleSize vectors), persist them, and commit
    * the increment's assigned vectors. Fails if the store already has
    * centroids — the quantizer trains ONCE. */
  def create(root: String, firstIncrement: DataFrame, dim: Int,
      nCells: Int = 16, sampleSize: Int = 512): Long = {
    require(!Files.isRegularFile(Paths.get(root, "params.tsv")) &&
      !Files.exists(Paths.get(root, "centroids")),
      s"VectorStore at $root already exists — centroids train once; use append")
    ManifestLog.pin(Paths.get(root, "params.tsv"), Seq("dim" -> dim.toString,
      "nCells" -> nCells.toString, "sampleSize" -> sampleSize.toString),
      "VectorStore", "centroids train once")
    val centroids = Similarity.trainCentroids(firstIncrement, dim, nCells, sampleSize)
    val spark = firstIncrement.sparkSession
    val rows = centroids.zipWithIndex.map { case (c, i) => Row(i, c.toSeq) }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false),
        nullable = false)))
    ManifestLog.publishDir(Paths.get(root, "centroids")) { tmp =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
        .write.parquet(tmp.toString)
    }
    append(root, firstIncrement)
  }

  /** The pinned centroid table, cell-ordered, as the driver-side array
    * [[Similarity.ivfTopKWith]] consumes. */
  def centroids(spark: SparkSession, root: String): Array[Array[Double]] =
    spark.read.parquet(s"$root/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** Commit one increment's vectors assigned under the PINNED centroids.
    * Idempotent on retry ([[NearDupStore.append]] semantics). */
  def append(root: String, embeddings: DataFrame): Long = {
    require(Files.isRegularFile(Paths.get(root, "params.tsv")) &&
      Files.exists(Paths.get(root, "centroids")),
      s"VectorStore at $root has no centroids — call create first")
    val cents = centroids(embeddings.sparkSession, root)
    log.append(root) { dir =>
      Similarity.ivfAssign(embeddings, cents)
        .write.parquet(dir.resolve("vectors").toString)
    }
  }

  /** Commit a TOMBSTONE increment: the given vec ids stop appearing as
    * neighbors (takedown semantics). Physical removal defers to
    * [[compact]]; reads anti-join the tombstone set until then.
    * Idempotent on retry like [[append]]. Returns the tombstone id. */
  def delete(root: String, ids: DataFrame, idCol: String = "vec_id"): Long =
    log.delete(root, ids, idCol)

  /** The committed assigned-vector union (vec_id, embedding, cell),
    * tombstoned vectors excluded. */
  def storedVectors(spark: SparkSession, root: String): DataFrame =
    log.read(spark, root, log.state(root), "vectors")

  /** COMPACT the committed increments into one (the small-files problem
    * — see [[IndexStore.compact]]): the assigned-vector union rewrites
    * as a NEW increment, the manifest flips to list only it, old dirs
    * are deleted after the flip. Centroids are untouched (pinned), so
    * probe results are unchanged by construction. */
  def compact(spark: SparkSession, root: String): Long =
    log.compact(root) { (st, dir) =>
      log.read(spark, root, st, "vectors").write.parquet(dir.resolve("vectors").toString)
    }

  /** ANN top-k over the STORED corpus — identical neighbors and rounded
    * cosines to [[Similarity.ivfTopKWith]] under the store's pinned
    * centroids over the union of its increments. */
  def topK(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame =
    Similarity.ivfTopKWith(centroids(spark, root),
      storedVectors(spark, root), queries, k, nProbe)
}
