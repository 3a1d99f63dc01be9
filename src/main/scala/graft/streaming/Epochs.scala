package graft.streaming

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.FileStreamSourceLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The exactly-once epoch layer of the streamed index queries: st12
  * (IVF ingest), st19/st21 (graph ingest), st18 (IVF serve) and st20
  * (graph serve). Each drains its input one file per epoch through
  * `foreachBatch`, which is at-least-once: a restart re-runs every
  * epoch whose commit record is missing. One protocol turns that into
  * exactly-once, the reference's write-each-intermediate-once contract
  * (`LUDecomposition.java` lines 148-150) applied per epoch:
  *
  *  - Ingest ([[applyOnce]]): an epoch listed in the store's
  *    applied-epochs manifest is skipped. Otherwise its legs are staged
  *    by Spark, moved in under deterministic `epoch-<id>.<k>.parquet`
  *    names (a replay rewrites the same names instead of adding a
  *    copy), the stage is deleted, and the epoch is marked applied
  *    last, by atomic rename.
  *  - Reads of a store see the applied epochs' files only
  *    ([[appliedFiles]]), so a replay of a half-published epoch
  *    recomputes against the state its first run saw.
  *  - Serve ([[serve]]): each epoch's answers OVERWRITE their own
  *    `batch-<id>` dir, and [[servedGate]] checks that the union of the
  *    served epochs equals the one-shot answer.
  *
  * The kill-and-replay specs of st12, st18 and st19 delete a commit
  * record to force a genuine epoch replay and find every store and
  * served union unchanged. */
private[graft] object Epochs {

  private val Manifest = "_applied_epochs.txt"
  private val EpochFile = """^epoch-(\d+)\.(\d+)\.parquet$""".r
  private val BatchDir = """^batch-(\d+)$""".r

  /** Drains `inDir` (AvailableNow, one file per trigger) into `epoch`,
    * one epoch per input file, under the batch id the file source's log
    * gave the file. In a straight run that is the micro-batch id. A
    * restart that lands after the source logged a file but before the
    * offsets log planned its micro-batch plans the next micro-batch over
    * two files; the epochs, and the lists st19 derives from their
    * boundaries, stay those of the straight run. */
  def drain(s: SparkSession, schema: StructType, inDir: String, ckpt: String)
           (epoch: (DataFrame, Long) => Unit): StreamingQuery =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .withColumn("_epoch_file", col("_metadata.file_path"))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val logged = new FileStreamSourceLog(FileStreamSourceLog.VERSION, s,
          s"$ckpt/sources/0").allFiles().map(e => e.sparkPath.toUri -> e.batchId).toMap
        batch.select(col("_epoch_file")).distinct()
          .collect().map(_.getString(0)) // bounded: the micro-batch's files
          .map(f => logged(SparkPath.fromUrlString(f).toUri) -> f).sorted
          .foreach { case (id, f) =>
            epoch(batch.filter(col("_epoch_file") === f).drop("_epoch_file"), id)
          }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()

  /** The applied epoch ids of `store`, empty when it has no manifest.
    * The manifest is replaced by [[graft.FsUtil.writeAtomic]], so a
    * reader never sees a torn one, and a fold generation's hardlinked
    * copy is never written through. */
  def applied(store: String): Set[Long] = {
    val f = new java.io.File(store, Manifest)
    if (!f.isFile) Set.empty
    else {
      // close the handle: one leak per epoch per restart adds up over a
      // long-lived ingest stream
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(_.toLong).toSet
      finally src.close()
    }
  }

  /** Applies epoch `id` to `store` exactly once. `write(stage, applied)`
    * Spark-writes the epoch's legs under `stage` (the applied set is the
    * state the epoch may read) and returns (staged leg dir relative to
    * `stage`, destination dir) pairs. The stage is a sibling of
    * `stageRoot`, never inside a store a reader lists. An applied epoch
    * runs nothing. */
  def applyOnce(store: String, stageRoot: String, id: Long)
               (write: (String, Set[Long]) => Seq[(String, String)]): Unit = {
    val done = applied(store)
    if (!done(id)) {
      val stage = s"$stageRoot.stage-epoch-$id"
      write(stage, done).foreach { case (leg, dst) =>
        val parts = Option(new java.io.File(stage, leg).listFiles())
          .getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
        parts.zipWithIndex.foreach { case (f, k) =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(dst, s"epoch-$id.$k.parquet"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      }
      graft.FsUtil.deleteTree(new java.io.File(stage))
      graft.FsUtil.writeAtomic(java.nio.file.Paths.get(store, Manifest),
        (done + id).toSeq.sorted.mkString("", "\n", "\n"))
    }
  }

  /** The epoch files of `dir` whose epoch is in `applied`, in (epoch,
    * part) order; files of an epoch that is not applied yet are left
    * out. */
  def appliedFiles(dir: String, applied: Set[Long]): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .toSeq.flatMap { f =>
        f.getName match {
          case EpochFile(e, k) if applied(e.toLong) =>
            Seq(((e.toLong, k.toInt), f.getAbsolutePath))
          case _ => Nil
        }
      }.sortBy(_._1).map(_._2)

  /** Serves each query epoch of `inDir` through `answer`, writing its
    * rows plus `batch_id` into `outDir/batch-<id>` with mode OVERWRITE:
    * a replayed epoch restores its own dir instead of appending a
    * second copy. The answer of an epoch is a function of its input
    * files (fixed by the offsets log) and of immutable index files, so
    * an overwrite restores the same bytes. One query per `outDir`. */
  def serve(s: SparkSession, schema: StructType, inDir: String, outDir: String,
            ckpt: String)(answer: DataFrame => DataFrame): StreamingQuery =
    drain(s, schema, inDir, ckpt) { (batch, id) =>
      answer(batch).withColumn("batch_id", lit(id))
        .write.mode("overwrite").parquet(s"$outDir/batch-$id")
    }

  /** The served union of `outDir` with the serving gates: `serve_ok`
    * when its (query_id, neighbor_id, cos4, rn) multiset equals
    * `oneShot`'s, `batches_ok` when all `nEpochs` input epochs served
    * (a collapsed single epoch would make the identity vacuous). The
    * epoch dirs are read by explicit path. */
  def servedGate(s: SparkSession, outDir: String, oneShot: DataFrame,
                 nEpochs: Int): DataFrame = {
    val dirs = Option(new java.io.File(outDir).list()).getOrElse(Array.empty[String])
      .collect { case n @ BatchDir(e) => (e.toLong, s"$outDir/$n") }
      .sortBy(_._1).map(_._2).toSeq
    val served = s.read.parquet(dirs: _*)
    val key = Seq(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
    // bounded: the served union and the one-shot answer are ≤ NQueries·K rows each
    val servedRows = served.select(key :+ col("batch_id"): _*).collect()
    val oneShotRows = oneShot.select(key: _*).collect() // bounded: ≤ NQueries·K one-shot rows
    def multiset(rs: Array[Row]) = // local: Seq.take on already-collected gate rows
      rs.map(_.toSeq.take(4)).groupBy(identity).view.mapValues(_.length).toMap
    val ok = multiset(servedRows) == multiset(oneShotRows)
    val nBatches = servedRows.map(_.getLong(4)).distinct.length.toLong
    served
      .withColumn("n_batches", lit(nBatches))
      .withColumn("serve_ok", lit(ok))
      .withColumn("batches_ok", lit(nBatches == nEpochs))
      .orderBy(col("query_id"), col("rn"))
      .localCheckpoint(true) // eager: outDir dies with the workspace
  }
}
