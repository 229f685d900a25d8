package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ops.DedupOps

/** Streaming near-duplicate detection e2e — the resident LLM-pipeline query:
  * documents arrive as a stream, each micro-batch's MinHash signatures are
  * appended to an accumulated signature table, and an INCREMENTAL band join
  * (new batch vs everything seen so far) emits each LSH dup pair exactly
  * once — in the micro-batch where the pair's LATER document arrives.
  *
  * Final state contract (the DuckDB oracle): the union of per-batch pair
  * outputs over the whole replay equals a single batch recomputation of
  * [[DedupOps.lshCandidatePairs]] over the full corpus — i.e. streaming
  * arrival order must not change WHAT is a duplicate, only WHEN it is
  * reported. Pair-emission uniqueness is structural, not dedup'd after the
  * fact: a pair (a,b) is emitted only when its later doc is in the new
  * batch, so any double emission (a replay bug, a band join bug) produces
  * duplicate rows and a row-count mismatch against the oracle.
  *
  * Scale shape (100 TB): the per-batch join is (new batch, banded — small)
  * vs (accumulated signature table, banded — large). The small side drives:
  * with AQE it broadcasts, so the accumulated side is a parquet scan with no
  * shuffle per batch. At production scale the accumulated table would be
  * written bucketed by (band, band_sig) so even the scan side's shuffle
  * disappears; signatures are numHashes longs/doc, so the state table is
  * ~1e-4 of corpus bytes. Replay safety mirrors [[StreamingIvf]]: both sinks
  * are epoch-keyed by batchId (`__b=<id>` deleted before rewrite), so a
  * batch retried after a partial write replaces — never duplicates — its
  * previous attempt.
  */
object StreamNearDup {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Render `docs` into `numFiles` newline-JSON fixture files with ascending
    * modification times (replayed oldest-first). Documents are assigned
    * round-robin by doc_id, so near-dup pairs overwhelmingly SPAN files —
    * the cross-micro-batch case is the one under test. */
  private def writeFixtures(docs: DataFrame, dir: String, numFiles: Int): Unit =
    Replay.writeChunks(
      docs.select(pmod(col("doc_id"), lit(numFiles)).as("chunk"),
        to_json(struct(col("doc_id"), col("text"))).as("value")),
      dir, "text")

  /** Compact an epoch-keyed accumulated table (the signature table grows one
    * epoch dir + >=1 file per micro-batch — unbounded over a long replay)
    * into a single maintenance epoch of ceil(bytes / targetFileBytes) files,
    * deleting the consumed epoch dirs. Maintenance epochs are NEGATIVE and
    * strictly decreasing (as in [[IvfIndex]]), so they can never collide
    * with a replayed batchId. Must not run concurrently with the streaming
    * writer; inside `foreachBatch` (the [[run]] cadence hook) that holds by
    * construction. A crash between the rewrite and the deletes leaves
    * duplicate ids behind — safe: the band join emits the same pair twice
    * and the per-batch `distinct()` collapses it. */
  def compactEpochs(spark: SparkSession, path: String,
                    targetFileBytes: Long = 512L * 1024 * 1024): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val dirs = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__b="))
      .map(_.getPath).toSeq
    if (dirs.size <= 1) return
    val epochs = dirs.map(_.getName.stripPrefix("__b=").toLong)
    val bytes = dirs.flatMap(d => fs.listStatus(d).filter(_.isFile).map(_.getLen)).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val epoch = math.min(-1L, epochs.min - 1L)
    spark.read.parquet(path).drop("__b")
      .repartition(nFiles)
      .withColumn("__b", lit(epoch))
      .write.mode(SaveMode.Append).partitionBy("__b").parquet(path)
    dirs.foreach(d => fs.delete(d, true))
  }

  /** Replay `docs` through the incremental pipeline in multiple micro-batches
    * and return the accumulated pair set (id_a, id_b, est_jaccard).
    *
    * Asserts that at least one emitted pair spans two micro-batches — the
    * cross-batch case is the point of the streaming form, and a fixture or
    * trigger change that quietly collapses the replay into one batch would
    * otherwise pass vacuously. */
  def run(spark: SparkSession, docs: DataFrame, workDir: String,
          numFiles: Int = 8, maxFilesPerTrigger: Int = 2,
          numHashes: Int = 16, rowsPerBand: Int = 4,
          compactEvery: Int = 0): DataFrame =
    Replay.scoped(spark) {
    writeFixtures(docs, workDir, numFiles)
    val sigPath = s"$workDir/sigs"
    val pairPath = s"$workDir/pairs"

    val stream = SourceAdapters.fixtureDirectory(spark, s"$workDir/data", maxFilesPerTrigger)
      .select(from_json(col("value"), docSchema).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"))

    // with compaction on, sig epochs are collapsed so the final epoch-join
    // check below would be blind — count cross-batch pairs exactly as they
    // are emitted instead (a pair is cross-batch iff not BOTH ids arrived
    // in the current batch)
    val crossAcc = spark.sparkContext.longAccumulator("crossBatchPairs")

    Replay.drain(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // 1. signatures for the new docs, appended under this batch's epoch
        StreamView.writeEpoch(DedupOps.signatures(batch, "doc_id", "text", numHashes),
          sigPath, batchId)
        // 2. incremental band join: new batch (re-read from its own epoch —
        //    one signature computation per doc, ever) vs the accumulated
        //    table INCLUDING this epoch, so within-batch pairs emit too.
        //    Canonical (least, greatest) + distinct collapses the (a,b)/(b,a)
        //    double match of within-batch pairs and multi-band collisions.
        val newSigs = s.read.parquet(sigPath).filter(col("__b") === batchId)
          .select(col("id"), col("sig"))
        val allSigs = s.read.parquet(sigPath).select(col("id"), col("sig"))
        val nb = DedupOps.bandedSignatures(newSigs, numHashes, rowsPerBand)
          .select(col("band"), col("band_sig"), col("id").as("nid"), col("sig").as("nsig"))
        val ab = DedupOps.bandedSignatures(allSigs, numHashes, rowsPerBand)
          .select(col("band"), col("band_sig"), col("id").as("aid"), col("sig").as("asig"))
        // Exactly-once emission is structural: the accumulated side only
        // holds docs from epochs <= batchId, so a pair materializes in
        // exactly one batch — the one where its later-arriving doc is on the
        // new side (old×old pairs can never rematch: neither doc is new).
        // Within-batch pairs match in both orientations and multi-band
        // collisions produce repeats — canonical (least, greatest) +
        // distinct collapses both to one row.
        val pairs = nb.join(ab, Seq("band", "band_sig"))
          .filter(col("nid") =!= col("aid"))
          .select(least(col("nid"), col("aid")).as("id_a"),
            greatest(col("nid"), col("aid")).as("id_b"),
            DedupOps.estJaccard(col("nsig"), col("asig"), numHashes).as("est_jaccard"))
          .distinct()
        StreamView.writeEpoch(pairs, pairPath, batchId)
        if (compactEvery > 0) {
          // re-read this batch's written pairs (no recompute of the band
          // join); an all-duplicate-free batch writes no partition dir
          val pairDir = new Path(pairPath, s"__b=$batchId")
          val pfs = pairDir.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (pfs.exists(pairDir)) {
            val written = s.read.parquet(pairDir.toString)
            val newIds = newSigs.select(col("id"))
            val bothNew = written
              .join(newIds.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
              .join(newIds.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
              .count()
            // At-least-once caveat: a RETRIED batch re-adds here and the
            // epoch dir may hold the prior attempt's files, so crossAcc can
            // over-count under failure/retry. It only feeds the >0 sanity
            // gate below — the pair OUTPUT stays correct (epoch overwrite +
            // distinct); an exact count would need per-batch new-id sets
            // persisted keyed by batchId and overwritten on retry.
            crossAcc.add(written.count() - bothNew)
          }
          // compaction cadence: consolidate the accumulated signature table
          // every `compactEvery` batches so a long replay keeps a bounded
          // epoch-dir/file count. Runs inside foreachBatch — serial with the
          // writer, satisfying compactEpochs' concurrency contract. The pair
          // OUTPUT table is append-only archive (never re-read per batch),
          // so it is not compacted here.
          if (batchId % compactEvery == compactEvery - 1)
            compactEpochs(s, sigPath)
        }
      }, workDir)

    val out = spark.read.parquet(pairPath)
    // the contract under test is CROSS-batch incremental detection
    val crossBatch =
      if (compactEvery > 0) crossAcc.value.longValue
      else {
        val sigs = spark.read.parquet(sigPath)
        out
          .join(sigs.select(col("id").as("id_a"), col("__b").as("ba")), Seq("id_a"))
          .join(sigs.select(col("id").as("id_b"), col("__b").as("bb")), Seq("id_b"))
          .filter(col("ba") =!= col("bb")).count()
      }
    require(crossBatch > 0,
      s"no dup pair spanned micro-batches (replay degenerated to one batch?)")
    out.select(col("id_a"), col("id_b"), col("est_jaccard"))
  }
}
