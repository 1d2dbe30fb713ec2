package graft.catalog

import graft.Json.mapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Thin table-catalog seam (SURVEY §7.4.2).
  *
  * At production scale every durable table (corpus, vertices, edges, adj,
  * iteration checkpoints, metrics) lives in an Iceberg catalog:
  * `spark.table(name)` / `df.writeTo(name).createOrReplace()/append()`,
  * with snapshot ids giving incremental derivation and time travel. No
  * Iceberg jars exist in this offline sandbox, so the same contract is
  * implemented over parquet directories with an atomic rename-commit and
  * a `_snapshots.jsonl` log whose lines carry each snapshot's schema, as
  * Iceberg's table metadata does — the subset of Iceberg the engine relies
  * on. Iteration checkpoints are snapshots here (`engine.Checkpointer`),
  * so swapping in Iceberg is a one-class change; no other engine module
  * commits durable state.
  */
trait CatalogAdapter {
  /** `summary`: kept with the snapshot, as Iceberg's summary properties. */
  def createOrReplace(name: String, df: DataFrame,
                      summary: Map[String, String] = Map.empty): Long
  def append(name: String, df: DataFrame): Long
  def read(spark: SparkSession, name: String): DataFrame
  def readSnapshot(spark: SparkSession, name: String, snapshot: Long): DataFrame
  def snapshots(name: String): Seq[Long]
  def summary(name: String, snapshot: Long): Map[String, String]

  /** Iceberg-style DELETE: commit a NEW snapshot holding the current rows
    * that do NOT match `cond`; prior snapshots stay time-travelable. This
    * is the table-layer home of the reference demo's drill-down deletions
    * (`core/master.tpp:30-110`: a resumed run recomputes with removed
    * nodes/edges applied) — delete the rows, re-run the kernel from the
    * new snapshot. */
  def deleteWhere(spark: SparkSession, name: String,
                  cond: org.apache.spark.sql.Column): Long = {
    // SQL DELETE semantics: remove rows where cond IS TRUE; a NULL
    // predicate keeps the row (a bare !cond would silently drop it)
    val remaining = read(spark, name)
      .filter(!org.apache.spark.sql.functions.coalesce(cond,
        org.apache.spark.sql.functions.lit(false)))
    createOrReplace(name, remaining)
  }

  /** Iceberg-style MERGE INTO (upsert by key): commit a NEW snapshot
    * where rows of `updates` REPLACE current rows sharing their `key`
    * and keys absent from the table INSERT; untouched rows carry over.
    * (MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT —
    * the write path of any SCD/refresh pipeline.) One anti-join + one
    * union; prior snapshots stay time-travelable. `updates` must carry
    * the table schema and at most one row per key (enforced by the
    * caller, as in Iceberg). */
  def merge(spark: SparkSession, name: String, updates: DataFrame,
            key: String): Long = {
    val cur = read(spark, name)
    val kept = cur.join(
      updates.select(org.apache.spark.sql.functions.col(key)),
      Seq(key), "left_anti")
    createOrReplace(name, kept.unionByName(updates))
  }

  /** Iceberg-style compaction (rewrite data files): commit a NEW snapshot
    * with the SAME content as the latest, rewritten into `files` output
    * files — the table-maintenance pass a long-lived append-heavy table
    * needs (an appended chain accumulates one file set per commit; reads
    * pay the union). Content is bit-identical, prior snapshots remain
    * time-travelable, and the new snapshot has no parents (its own files
    * carry everything). */
  def compact(spark: SparkSession, name: String, files: Int = 1): Long =
    createOrReplace(name, read(spark, name).repartition(files))
}

/** Parquet + snapshot-log implementation (local stand-in for Iceberg). */
final class LocalCatalog(root: String) extends CatalogAdapter {
  import LocalCatalog._

  private def tableDir(name: String): Path = Paths.get(root, name)
  private def snapDir(name: String, snap: Long): Path =
    tableDir(name).resolve(f"snap_$snap%06d")
  private def logPath(name: String): Path =
    tableDir(name).resolve("_snapshots.jsonl")
  private def refLog(name: String): Path = tableDir(name).resolve("_refs.jsonl")

  /** The snapshot log, commit order: the table's only commit record. */
  private def log(name: String): Seq[Snapshot] =
    if (!Files.exists(logPath(name))) Seq.empty
    else Files.readAllLines(logPath(name)).asScala.toSeq.map(parse)

  /** An append extends the chain of snapshot `head`. */
  private def commit(name: String, df: DataFrame, head: Option[Long],
                     summary: Map[String, String] = Map.empty,
                     advance: Option[String] = None): Long = {
    val dir = tableDir(name)
    Files.createDirectories(dir)
    val snaps = log(name)
    val parents = head.toSeq.flatMap(chain(snaps, _))
    // an append may add columns, never change one's type: fail before
    // anything is written, so the table still reads
    chainSchema(parents.map(_.schema) :+ df.schema)
    val snap = snaps.map(_.id).maxOption.getOrElse(0L) + 1L
    val tmp = dir.resolve(f"_tmp_$snap%06d")
    df.write.mode("overwrite").parquet(tmp.toString)
    val dst = snapDir(name, snap)
    // an orphan: renamed into place by a commit whose log line never
    // landed, so no reader sees it
    deleteTree(dst)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    // per-partition lineage: the committed part files ARE the partitions
    val files = dst.toFile.list().count(_.startsWith("part-"))
    val line = Snapshot(snap, parents.map(_.id), files, df.schema.json, summary)
    // the log line is the commit point (written last, append-only)
    Files.write(logPath(name), java.util.List.of(line.json),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // branch bookkeeping: a main-line commit on a branched table advances
    // "main"; a branch commit advances only its own ref. Unbranched
    // tables never touch the ref log — legacy behavior is bit-identical.
    advance.orElse(if (refs(name).contains("main")) Some("main") else None)
      .foreach(r => writeRef(name, r, snap))
    snap
  }

  // ---- Iceberg-style named refs (branches) ----
  //
  // `_refs.jsonl` is append-only, last line per ref wins (the same
  // commit-point discipline as the snapshot log). Creating the FIRST
  // branch pins "main" to the current head, so branch commits — which
  // allocate globally-increasing snapshot ids in the shared log — can
  // never change what the default read resolves. WAP (write-audit-
  // publish) is the use case: stage an experimental append on a branch,
  // audit it, fast-forward main only when it passes.

  private def writeRef(name: String, ref: String, snap: Long): Unit =
    Files.write(refLog(name),
      java.util.List.of(s"""{"ref":"$ref","snapshot":$snap}"""),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Current ref heads (empty for never-branched tables). */
  def refs(name: String): Map[String, Long] =
    if (!Files.exists(refLog(name))) Map.empty
    else Files.readAllLines(refLog(name)).asScala.flatMap { l =>
      """"ref":"([^"]+)","snapshot":(\d+)""".r.findFirstMatchIn(l)
        .map(m => m.group(1) -> m.group(2).toLong)
    }.toMap

  /** Create branch `ref` at the current head (pinning "main" there too
    * if this is the table's first branch). Returns the head snapshot. */
  // ref names are interpolated into the JSON ref log unescaped; a name
  // with a quote would write a line the refs() regex skips — silently
  // losing the branch head. Fail loudly at the API boundary instead.
  private def validRef(ref: String): String = {
    require(ref.matches("[A-Za-z0-9._-]+"),
      s"invalid ref name '$ref': must match [A-Za-z0-9._-]+")
    ref
  }

  def branch(name: String, ref: String): Long = {
    validRef(ref)
    val head = snapshots(name).maxOption
      .getOrElse(sys.error(s"no committed snapshot for table $name"))
    if (!refs(name).contains("main")) writeRef(name, "main", head)
    writeRef(name, ref, head)
    head
  }

  /** Append onto a named ref: the new snapshot's lineage is the ref
    * head's chain, and only that ref advances. */
  def appendTo(name: String, ref: String, df: DataFrame): Long = {
    val head = refs(name).getOrElse(validRef(ref),
      sys.error(s"unknown ref $ref for table $name"))
    commit(name, df, Some(head), advance = Some(ref))
  }

  /** Read a named ref's head (time travel by branch). */
  def readRef(spark: SparkSession, name: String, ref: String): DataFrame =
    readSnapshot(spark, name, refs(name).getOrElse(ref,
      sys.error(s"unknown ref $ref for table $name")))

  override def createOrReplace(name: String, df: DataFrame,
                               summary: Map[String, String]): Long =
    commit(name, df, None, summary)

  /** Append = new snapshot whose lineage is the current MAIN-LINE head's
    * chain (its parents + itself) — not every prior snapshot, which would
    * union replaced-away data back in after a createOrReplace. On a
    * branched table the main line is the "main" ref (the latest snapshot
    * may be a branch commit); otherwise it is the latest snapshot. */
  override def append(name: String, df: DataFrame): Long =
    commit(name, df, refs(name).get("main").orElse(snapshots(name).maxOption))

  override def read(spark: SparkSession, name: String): DataFrame =
    // a branched table's default read follows the "main" ref (branch
    // commits share the snapshot log, so read-latest would leak them);
    // never-branched tables keep the legacy read-latest
    refs(name).get("main") match {
      case Some(head) => readSnapshot(spark, name, head)
      case None =>
        val snaps = snapshots(name)
        require(snaps.nonEmpty, s"no committed snapshot for table $name")
        readSnapshot(spark, name, snaps.max)
    }

  /** A snapshot's content = its own files plus (for appends) its parents'.
    * The schema comes from the log, as Iceberg's comes from table metadata:
    * ADD COLUMN evolution widens the table and back-fills prior rows with
    * null, and no Spark job reads a file footer. */
  override def readSnapshot(spark: SparkSession, name: String,
                            snapshot: Long): DataFrame = {
    val snaps = chain(log(name), snapshot)
    spark.read.schema(chainSchema(snaps.map(_.schema)))
      .parquet(snaps.map(s => snapDir(name, s.id).toString): _*)
  }

  override def snapshots(name: String): Seq[Long] = log(name).map(_.id)

  override def summary(name: String, snapshot: Long): Map[String, String] =
    chain(log(name), snapshot).last.summary

  /** Iceberg-style expire_snapshots (table maintenance): drop history
    * older than the newest `keep` snapshots, RETAINING any snapshot a
    * kept one still reads through (append parents — Iceberg's file-
    * reachability rule), so kept reads never lose data files. The usual
    * flow is compact-then-expire: compaction commits a self-contained
    * snapshot with no parents, after which the whole prior chain is
    * expirable. The log is rewritten first (the commit point), then the
    * unreachable snapshot dirs are deleted; time travel to an expired id
    * now fails, kept ids are untouched. Returns expired ids. */
  def expireSnapshots(name: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest snapshot")
    val snaps = log(name)
    // ref heads are GC roots exactly like the newest snapshots (Iceberg
    // retains any snapshot a branch still points at)
    val roots = snaps.map(_.id).takeRight(keep).toSet ++ refs(name).values
    val kept = roots.flatMap(chain(snaps, _).map(_.id))
    val (live, expired) = snaps.partition(s => kept(s.id))
    if (expired.nonEmpty) {
      Files.write(logPath(name), live.map(_.json).asJava,
        StandardOpenOption.TRUNCATE_EXISTING)
      expired.foreach(s => deleteTree(snapDir(name, s.id)))
    }
    expired.map(_.id)
  }
}

object LocalCatalog {
  /** One snapshot-log line: the snapshot's parents, its part-file count,
    * the schema its files were written with and the caller's summary. */
  private final case class Snapshot(id: Long, parents: Seq[Long],
                                    files: Int, schemaJson: String,
                                    summary: Map[String, String]) {
    // parsed only for the snapshots a read or an append's check touches
    lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def json: String =
      s"""{"snapshot":$id,"parents":[${parents.mkString(",")}],""" +
        s""""files":$files,"schema":$schemaJson,"summary":""" +
        mapper.writeValueAsString(summary.asJava) + "}"
  }

  /** A snapshot's read chain, oldest first: its parents, then itself. */
  private def chain(snaps: Seq[Snapshot], snapshot: Long): Seq[Snapshot] = {
    val byId = snaps.map(s => s.id -> s).toMap
    (byId(snapshot).parents :+ snapshot).distinct.sorted.map(byId)
  }

  private def parse(line: String): Snapshot = {
    val j = mapper.readTree(line)
    Snapshot(j.get("snapshot").asLong,
      j.get("parents").iterator().asScala.map(_.asLong).toSeq,
      j.get("files").asInt,
      j.get("schema").toString,
      mapper.convertValue(j.get("summary"),
        classOf[java.util.Map[String, String]]).asScala.toMap)
  }

  /** A chain's read schema: fields in first-appearance order, a field
    * added by a later snapshot nullable; throws on a type change. */
  private def chainSchema(schemas: Seq[StructType]): StructType =
    schemas.tail.flatten.foldLeft(schemas.head) { (a, f) =>
      a.find(_.name == f.name) match {
        case Some(g) =>
          require(g.dataType.catalogString == f.dataType.catalogString,
            s"column ${f.name}: ${f.dataType.catalogString} conflicts " +
              s"with the table's ${g.dataType.catalogString}")
          a
        case None => a.add(f.copy(nullable = true))
      }
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)))
}
