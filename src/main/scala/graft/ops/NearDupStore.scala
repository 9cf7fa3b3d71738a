package graft.ops

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spark.ManifestLog

/** Persisted LSH band-key store for CROSS-CRAWL near-dup dedup
  * (VERDICT r7 #2): the seen corpus's signature frames — `(id, shs)`
  * hashed shingles and `(id, band_key)` MinHash band keys — committed
  * once per crawl increment, so each new dump pays batch-side signatures
  * only instead of re-shingling the entire seen corpus per micro-batch
  * (the cost [[Dedup.incrementalNearDup]]'s scaladoc documented and its
  * 2M probe measured).
  *
  * Commit discipline = [[graft.spark.ManifestLog.IncrementLog]]: atomic
  * increment and manifest flips, idempotent retry, tombstone anti-join.
  * `params.tsv` pins (numHashes, bands, shingleK) at store creation; a
  * mismatched append FAILS FAST instead of silently mixing incompatible
  * signatures.
  *
  * Layout under `root/`:
  *   params.tsv                   numHashes / bands / shingleK
  *   inc-<K>/keys/  parquet       (id, band_key)
  *   inc-<K>/sigs/  parquet       (id, shs)
  *   del-<K>/ids/   parquet       (id) tombstones ([[delete]])
  *   manifest-<K>.tsv             committed inc/del increments so far
  *
  * 100-TB shape: the store holds 16-byte keys + ids (× bands) and 8-byte
  * shingle-hash arrays — both a small multiple of corpus CARDINALITY,
  * not corpus bytes; text never enters the store. Queries union the
  * committed increments (manifest-scale file listing) and run the same
  * band-key join plan as the recompute path, so the plan-shape gates
  * apply unchanged. */
object NearDupStore {

  private val log = new ManifestLog.IncrementLog("NearDupStore", "id")

  /** Commit one crawl increment's signature frames. Idempotent on retry:
    * a crash after data rename but before the manifest flip leaves the
    * `inc-<K>` dirs committed-but-unlisted; the retry recomputes the SAME
    * increment id (manifest unchanged), overwrites them, and flips the
    * manifest — increments are exactly-once from a reader's view. Returns
    * the increment id. */
  def append(root: String, docs: DataFrame,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    ManifestLog.pin(Paths.get(root, "params.tsv"),
      Seq("numHashes" -> numHashes.toString, "bands" -> bands.toString,
        "shingleK" -> shingleK.toString),
      "NearDupStore", "mixed signature parameters would silently break recall")
    log.append(root) { dir =>
      // ONE shingling pass feeds both frames (the incrementalNearDup
      // discipline): write sigs from the checkpointed base, keys off it
      val base = CheckpointScratch.ckpt(
        Dedup.shingleFrame(docs, shingleK, idCol, textCol))
      base.write.parquet(dir.resolve("sigs").toString)
      Dedup.bandKeyFrame(base, numHashes, bands)
        .write.parquet(dir.resolve("keys").toString)
    }
  }

  /** Commit a TOMBSTONE increment: the given doc ids stop suppressing
    * near-dups (takedown semantics — a removed doc must not keep culling
    * new crawls that resemble it). Physical removal defers to
    * [[compact]]; reads anti-join the tombstone set until then.
    * Idempotent on retry like [[append]]. Returns the tombstone id. */
  def delete(root: String, ids: DataFrame, idCol: String = "doc_id"): Long =
    log.delete(root, ids, idCol)

  /** COMPACT the committed increments into one (the small-files problem
    * — see [[IndexStore.compact]]): the keys/sigs unions rewrite as a
    * NEW increment, the manifest flips to list only it (old view or new
    * view, never a mix), old dirs are deleted after the flip. Dedup
    * results are unchanged: the store's query surface is exactly the
    * union the new increment now holds. */
  def compact(spark: SparkSession, root: String): Long =
    log.compact(root) { (st, dir) =>
      log.read(spark, root, st, "sigs").write.parquet(dir.resolve("sigs").toString)
      log.read(spark, root, st, "keys").write.parquet(dir.resolve("keys").toString)
    }

  /** The committed seen-side band keys (id, band_key). */
  def seenKeys(spark: SparkSession, root: String): DataFrame =
    log.read(spark, root, log.state(root), "keys")

  /** The committed seen-side shingle-hash frames (id, shs). */
  def seenSigs(spark: SparkSession, root: String): DataFrame =
    log.read(spark, root, log.state(root), "sigs")

  /** Cross-crawl near-dup dedup of `batch` against the STORED corpus
    * signatures — identical output to [[Dedup.incrementalNearDup]] over
    * the store's source docs, but the seen side costs two parquet scans
    * (keys for the band join, sigs for the verify) instead of a corpus
    * re-shingle per batch. Parameters are read from the store; keys and
    * sigs come from ONE manifest. */
  def incrementalNearDup(root: String, batch: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val p = ManifestLog.readParams(Paths.get(root, "params.tsv")).getOrElse(
      throw new IllegalStateException(s"NearDupStore at $root has no params.tsv"))
    val spark = batch.sparkSession
    val st = log.state(root)
    Dedup.incrementalNearDupAgainst(
      log.read(spark, root, st, "sigs"), log.read(spark, root, st, "keys"),
      batch, threshold, p("numHashes").toInt, p("bands").toInt, p("shingleK").toInt,
      idCol, textCol)
  }
}
