package graft.ops

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Iceberg-style snapshot/manifest emulation over Parquet (SURVEY.md §7.5):
 * no Iceberg runtime jar ships in /opt/spark/jars (offline coursier), so
 * each checkpointed stage directory carries
 *
 *   <dir>/data/              the Parquet table (atomic per-task commits)
 *   <dir>/counters.json      lineage counters, one entry per written part
 *                            file (Lineage) — written before the manifest,
 *                            so it is part of the commit
 *   <dir>/manifest.json      snapshot record: stage name, snapshot id,
 *                            input snapshot ids, config fingerprint, row
 *                            count, Spark schema (JSON) — written LAST,
 *                            atomically (tmp + move), so its presence ==
 *                            commit marker
 *
 * A stage runs the Spark jobs of its write and no others: row counts and
 * schema are read on the driver from the footers of the part files the
 * write committed, and the table is read back under that schema, so no
 * count, schema-inference or histogram job runs.
 *
 * Resume semantics (north rule "any stage resumes mid-run"): a stage whose
 * manifest names the same stage, config fingerprint and input snapshots is
 * *skipped* and its table re-read under the recorded schema; a recomputed
 * stage gets a new snapshot id, so every stage built from it recomputes
 * too. This is the analog of the reference's `force_reindex=False`
 * early-out (`relik/retriever/indexers/inmemory.py:171-175`) and the
 * (disabled) tail-of-file resume in `cli/data.py:500-522`, done correctly:
 * commit is atomic, partial stage output is never observed.
 */
object Checkpoints {

  /** `snapshot` is a fresh id per commit; `inputs` are the snapshot ids of
    * the committed stages this one was built from. */
  case class Manifest(stage: String, snapshot: String, inputs: Seq[String],
                      fingerprint: String, rows: Long, schema: StructType)

  /** The footer key under which Spark's parquet writer records the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val PartFile = """part-(\d+)-.*\.parquet""".r
  private val mapper = new ObjectMapper()

  private def manifestPath(dir: String) = Paths.get(dir, "manifest.json")

  /** The manifest committed in `dir`; None when there is none, or when it
    * does not parse as one (a stage with no readable commit is recomputed). */
  def readManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else try {
      val n = mapper.readTree(p.toFile)
      Some(Manifest(n.get("stage").textValue, n.get("snapshot").textValue,
        n.get("inputs").elements.asScala.map(_.textValue).toSeq,
        n.get("fingerprint").textValue, n.get("rows").longValue,
        DataType.fromJson(n.get("schema").toString).asInstanceOf[StructType]))
    } catch { case NonFatal(_) => None }
  }

  private def writeManifest(dir: String, m: Manifest): Unit = {
    val n = mapper.createObjectNode().put("stage", m.stage).put("snapshot", m.snapshot)
    val inputs = n.putArray("inputs")
    m.inputs.foreach(i => inputs.add(i))
    n.put("fingerprint", m.fingerprint).put("rows", m.rows)
    n.set[JsonNode]("schema", mapper.readTree(m.schema.json))
    val tmp = Paths.get(dir, ".manifest.json.tmp")
    Files.write(tmp, mapper.writeValueAsBytes(n))
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Schema and (part number, rows) of the part files a write committed
    * under `dataDir`, from their parquet footers — driver-side, no job. */
  private def footers(spark: SparkSession, dataDir: String): (StructType, Seq[(Int, Long)]) = {
    val conf = spark.sessionState.newHadoopConf()
    // options over the session's conf: the no-options overload builds a
    // fresh Hadoop Configuration per file (~12 ms each)
    val options = HadoopReadOptions.builder(conf).build()
    val root = new Path(dataDir)
    val read = root.getFileSystem(conf).listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case PartFile(part) =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
          try Some((part.toInt, r.getRecordCount,
            r.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
          finally r.close()
        case _ => None
      }
    }
    require(read.nonEmpty, s"the write committed no parquet part file under $dataDir")
    val schema = DataType.fromJson(read.head._3).asInstanceOf[StructType]
    (schema, read.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted)
  }

  /** A digest of `(path, length, mtime)` over every file `df` scans, sorted —
    * taken from the file statuses its relations' file indexes already
    * listed (no job, no per-file call); None when `df` scans no file (an
    * in-memory or generated table). A stage over a file scan adds it to its
    * fingerprint, so an input overwritten in place is recomputed, not
    * resumed from the old corpus's snapshot. */
  def inputFilesDigest(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
      PartitioningAwareFileIndex}
    val files = df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case fs: HadoopFsRelation => fs.location }
      .collect { case idx: PartitioningAwareFileIndex => idx.allFiles() }.flatten
      .map(st => s"${st.getPath}\t${st.getLen}\t${st.getModificationTime}\n").distinct.sorted
    if (files.isEmpty) None else {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      files.foreach(f => md.update(f.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Some(s"${files.length} files, sha256 ${md.digest().map(b => f"$b%02x").mkString}")
    }
  }

  /**
   * Run-or-resume a stage: if a committed snapshot of this stage with this
   * fingerprint, built from the snapshots now committed in the `inputs`
   * stage directories, exists, read it back; otherwise compute `df`, write
   * Parquet, then commit counters and manifest. Returns the (re)read
   * DataFrame — downstream stages always consume the checkpointed table,
   * truncating lineage between stages.
   */
  def stage(spark: SparkSession, dir: String, name: String, fingerprint: String,
            inputs: Seq[String] = Nil)(df: => DataFrame): DataFrame = {
    val dataDir = s"$dir/data"
    val inputSnapshots = inputs.map(d => readManifest(d).map(_.snapshot)
      .getOrElse(throw new IllegalStateException(s"input stage $d is not committed")))
    readManifest(dir).filter(m => m.stage == name && m.fingerprint == fingerprint &&
        m.inputs == inputSnapshots) match {
      case Some(m) => spark.read.schema(m.schema).parquet(dataDir)
      case None =>
        // the write replaces the data an older manifest names: uncommit it first
        Files.deleteIfExists(manifestPath(dir))
        df.write.mode("overwrite").parquet(dataDir)
        val (schema, parts) = footers(spark, dataDir)
        Lineage.writeCounters(dir, name, parts)
        writeManifest(dir, Manifest(name, UUID.randomUUID().toString, inputSnapshots,
          fingerprint, parts.map(_._2).sum, schema))
        spark.read.schema(schema).parquet(dataDir)
    }
  }
}
