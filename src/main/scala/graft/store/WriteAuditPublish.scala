package graft.store

import java.util.EnumSet

import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.count_if

import graft.Tables

/** Write-Audit-Publish (the staged-commit pattern table formats run under
  * names like branch + audit + fast-forward): a candidate snapshot is
  * written to an UNPUBLISHED staging generation, data-quality audits run
  * against the staged bytes (what was actually written, not the dataframe
  * that produced them — a writer bug is exactly what WAP exists to catch),
  * and only a fully clean candidate becomes visible, via an atomic
  * manifest rename. Readers resolve through the manifest, so a failed
  * candidate is never observable and the previously published generation
  * keeps serving.
  *
  * The manifest is handled through Hadoop's FileContext, the same path
  * resolution Spark's own writers use — so `dir` may live on any
  * filesystem with a FileContext binding, not just the driver's local
  * disk. The never-observable-partial guarantee holds exactly on
  * rename-atomic filesystems (local, HDFS); on object stores such as S3A
  * rename is copy+delete (and the fs.AbstractFileSystem.s3a.impl binding
  * is not present by default), so there a reader can observe a missing
  * MANIFEST during the publish window — put the manifest dir on a
  * rename-atomic store, or front it with a conditional-put catalog.
  * Each publish writes a tmp file UNIQUE to
  * its generation (`.MANIFEST.<gen>.tmp`) before the atomic rename, so two
  * concurrent publishers can never rename each other's bytes: the last
  * rename wins wholesale, which is the correct last-writer-wins semantics
  * for a single-pointer commit.
  *
  * Crash windows: a crash before the rename leaves the old generation
  * published and a stale gen-specific tmp that a later publish of the same
  * gen overwrites (and vacuum can reclaim); a crash after staging leaves an
  * orphan gen dir that is invisible (manifest-excluded) and reclaimable by
  * a vacuum of non-published generations. Scale: the staged write is the
  * query's own distributed write; the staged relation's schema comes from
  * its parquet footer, read on the driver ([[graft.Tables.read]], no Spark
  * job); the audits are ONE observed scan of the staged bytes (one
  * `count_if` per audit, no shuffle, one job); the publish step itself is
  * ONE metadata rename regardless of data size. [[readPublished]] of the
  * generation just audited reuses that resolved schema and starts no job.
  */
object WriteAuditPublish {

  /** A named audit: `violation` is a row predicate over the staged
    * candidate; the audit passes when no row satisfies it (a null result
    * is not a violation, as in a `filter`). */
  final case class Audit(name: String, violation: Column)

  private def fileContext(p: HPath): FileContext =
    FileContext.getFileContext(
      p.toUri, SparkSession.active.sessionState.newHadoopConf())

  /** Stage `candidate` under `dir/stage/gen=<gen>`, audit the STAGED
    * relation, and publish atomically iff no audit finds a violating row.
    * All audits are counted in one scan of the staged relation: one
    * `count_if` per audit, observed (`Dataset.observe`) while a `noop` sink
    * drains the scan, so there is no global aggregate and no shuffle.
    * Returns (published, per-audit violation counts). */
  def writeAuditPublish(candidate: DataFrame, dir: String, gen: Long,
      audits: Seq[Audit]): (Boolean, Seq[(String, Long)]) = {
    require(audits.nonEmpty, "writeAuditPublish needs at least one audit")
    val spark = candidate.sparkSession
    val stage = s"$dir/stage/gen=$gen"
    candidate.write.mode("overwrite").parquet(stage)
    val counts = audits.zipWithIndex.map { case (a, i) => count_if(a.violation).as(s"audit$i") }
    val observation = Observation()
    Tables.read(spark, stage).observe(observation, counts.head, counts.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val observed = observation.get
    val results = audits.zipWithIndex.map { case (a, i) => a.name -> observed(s"audit$i").asInstanceOf[Long] }
    val ok = results.forall(_._2 == 0L)
    if (ok) publishManifest(dir, gen)
    (ok, results)
  }

  /** The atomic half on its own (exposed so tests can crash between stage
    * and publish): point the manifest at `gen`. Gen-unique tmp + atomic
    * overwrite-rename; safe under concurrent publishers (last wins). */
  def publishManifest(dir: String, gen: Long): Unit = {
    val dirPath = new HPath(dir)
    val fc = fileContext(dirPath)
    val tmp = new HPath(dirPath, s".MANIFEST.$gen.tmp")
    val out = fc.create(tmp,
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    fc.rename(tmp, new HPath(dirPath, "MANIFEST"), Options.Rename.OVERWRITE)
  }

  /** Currently published generation, if any. */
  def publishedGen(dir: String): Option[Long] = {
    val m = new HPath(new HPath(dir), "MANIFEST")
    val fc = fileContext(m)
    if (!fc.util.exists(m)) None
    else {
      // readFully to the stat'd length — a single read() may return short
      // (likely on remote filesystems) and would parse a truncated gen.
      val len = fc.getFileStatus(m).getLen.toInt
      val in = fc.open(m)
      try {
        val bytes = new Array[Byte](len)
        in.readFully(bytes, 0, len)
        Some(new String(bytes, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Read the published table (resolves through the manifest — staged but
    * unpublished generations are invisible by construction). */
  def readPublished(spark: SparkSession, dir: String): DataFrame = {
    val gen = publishedGen(dir).getOrElse(
      throw new IllegalStateException(s"no published generation under $dir"))
    Tables.read(spark, s"$dir/stage/gen=$gen")
  }
}
