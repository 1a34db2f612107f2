package graft.kg

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-stage checkpointing with resume (north_rule: checkpoint-resumable
  * stages). Emulates an Iceberg-style snapshot layout with parquet dirs + a
  * manifest written LAST (no Iceberg runtime jar ships in /opt/spark/jars —
  * documented environment substitution, SURVEY §7): a stage directory without
  * its manifest is a torn write and gets recomputed/overwritten; a manifest'd
  * stage is immutable and reread, so reruns skip straight past completed work.
  * All file access goes through the Hadoop `FileSystem` of the stage path, so
  * `outRoot` may be a local path or any Hadoop URI (`file:///`, `hdfs://`).
  */
object Checkpoints {

  /** Local-filesystem view of a stage's manifest, for a plain-path `outRoot`. */
  def manifestPath(outRoot: String, stage: String): java.nio.file.Path =
    java.nio.file.Paths.get(outRoot, stage, "_MANIFEST.json")

  private def stageDir(outRoot: String, stage: String): Path = new Path(outRoot, stage)
  private def manifest(dir: Path): Path = new Path(dir, "_MANIFEST.json")

  /** The stage path's filesystem, configured by the session's Hadoop
    * settings when there is a session. */
  private def fs(p: Path): FileSystem = p.getFileSystem(
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  def isComplete(outRoot: String, stage: String): Boolean = {
    val m = manifest(stageDir(outRoot, stage))
    fs(m).exists(m)
  }

  /** Run `compute` unless the stage already completed; returns the stage's
    * DataFrame re-read from parquet either way (so downstream stages read
    * columnar, pruned input rather than re-deriving lineage). */
  def stage(spark: SparkSession, outRoot: String, name: String,
            log: String => Unit = println)(compute: => DataFrame): DataFrame = {
    val dir = stageDir(outRoot, name)
    if (isComplete(outRoot, name)) {
      log(s"[checkpoint] stage '$name' complete — resuming from $dir")
    } else {
      val t0 = System.nanoTime()
      compute.write.mode("overwrite").parquet(dir.toString)
      // per-PARTITION lineage (north_rule): one row-count pass grouped by
      // the physical part file, joined with on-disk bytes — the manifest
      // names every partition of the snapshot, so a torn/short file is
      // detectable and downstream audits can account work file-by-file
      import org.apache.spark.sql.functions.{input_file_name, count, lit}
      // input_file_name() is a URI-encoded path: its decoded last segment
      // is the part file's name
      val rowsByFile = spark.read.parquet(dir.toString)
        .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("rows"))
        .collect()
        .map(r => new Path(new java.net.URI(r.getString(0))).getName -> r.getLong(1))
        .toMap
      // the DIRECTORY listing is the authoritative partition set: a
      // zero-row part file produces no input_file_name group and would
      // otherwise vanish from the manifest (exactly the torn/short-file
      // case the manifest exists to detect)
      val dirFs = fs(dir)
      val partFiles = dirFs.listStatus(dir)
        .filter { st => val n = st.getPath.getName
          n.startsWith("part-") && n.endsWith(".parquet") }
        .sortBy(_.getPath.getName)
      val parts = partFiles.map { st =>
        val n = st.getPath.getName
        s"""{"file":"$n","rows":${rowsByFile.getOrElse(n, 0L)},"bytes":${st.getLen}}"""
      }.mkString("[", ",", "]")
      val rows = rowsByFile.values.sum
      val json =
        s"""{"stage":"${name}","rows":$rows,"format":"parquet","committed":true,"partitions":$parts}"""
      write(manifest(dir), json)
      log(f"[checkpoint] stage '$name' wrote $rows rows in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.read.parquet(dir.toString)
  }

  /** The text of the file `name` under `outRoot`, if it exists. */
  def readText(outRoot: String, name: String): Option[String] = {
    val p = new Path(outRoot, name)
    val pfs = fs(p)
    if (!pfs.exists(p)) None
    else {
      val in = pfs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Writes (or replaces) the file `name` under `outRoot`. */
  def writeText(outRoot: String, name: String, text: String): Unit =
    write(new Path(outRoot, name), text)

  private def write(p: Path, text: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
  }

  /** Delete one stage's output (for targeted recompute / tests). */
  def invalidate(outRoot: String, stage: String): Unit = {
    val dir = stageDir(outRoot, stage)
    fs(dir).delete(dir, true)
  }
}
