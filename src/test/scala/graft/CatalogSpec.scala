package graft

import graft.catalog.{Cdc, LocalCatalog}
import java.nio.file.Files

/** Catalog seam: atomic snapshot commits, append-as-new-snapshot,
  * read-latest, time travel.
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("createOrReplace / append / read-latest / time travel") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog").toString)
    val s1 = cat.createOrReplace("t", Seq(1L, 2L).toDF("x"))
    val s2 = cat.append("t", Seq(3L).toDF("x"))
    assert(cat.snapshots("t") === Seq(s1, s2))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    assert(cat.readSnapshot(spark, "t", s1).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    // replace starts a fresh lineage
    val s3 = cat.createOrReplace("t", Seq(9L).toDF("x"))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)) === Array(9L))
    assert(cat.readSnapshot(spark, "t", s2).collect()
      .map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    assert(s3 > s2)
  }

  test("branches: WAP isolation both ways, main advances, expire keeps heads") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-br").toString)
    cat.createOrReplace("t", Seq(1L, 2L).toDF("x"))
    val head = cat.branch("t", "exp")
    assert(cat.refs("t") === Map("main" -> head, "exp" -> head))
    // branch append is invisible to the default read
    cat.appendTo("t", "exp", Seq(3L).toDF("x"))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
    assert(cat.readRef(spark, "t", "exp").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // main-line append advances only main; the branch stays put
    cat.append("t", Seq(4L).toDF("x"))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 4L))
    assert(cat.readRef(spark, "t", "exp").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    // ref heads are GC roots: keep=1 must not break either read
    cat.expireSnapshots("t", keep = 1)
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 4L))
    assert(cat.readRef(spark, "t", "exp").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  test("branch rejects ref names the JSON ref log cannot round-trip") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-ref").toString)
    cat.createOrReplace("t", Seq(1L).toDF("x"))
    // a quote (or any JSON metachar) would write a ref-log line the
    // refs() regex skips — the head would be silently lost, not broken
    intercept[IllegalArgumentException](cat.branch("t", "bad\"ref"))
    intercept[IllegalArgumentException](cat.branch("t", "sp ace"))
    cat.branch("t", "ok-ref_1.x") // the full allowed alphabet
    assert(cat.refs("t").contains("ok-ref_1.x"))
  }

  test("expire snapshots: history pruned, content intact, parents kept") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-exp").toString)
    val s1 = cat.createOrReplace("t", Seq(1L).toDF("x"))
    val s2 = cat.append("t", Seq(2L).toDF("x"))
    val s3 = cat.createOrReplace("t", Seq(9L, 10L).toDF("x"))
    assert(cat.expireSnapshots("t", keep = 1) === Seq(s1, s2))
    assert(cat.snapshots("t") === Seq(s3))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(9L, 10L))
    // time travel to an expired snapshot now fails (files deleted)
    intercept[Exception](cat.readSnapshot(spark, "t", s1).collect())
    // reachability: keep=1 on an append chain retains the parents a
    // kept snapshot still reads through — nothing expires
    val c2 = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-exp2").toString)
    c2.createOrReplace("u", Seq(1L).toDF("x"))
    c2.append("u", Seq(2L).toDF("x"))
    assert(c2.expireSnapshots("u", keep = 1) === Seq.empty)
    assert(c2.read(spark, "u").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L))
  }

  test("schema evolution: appended column widens reads, back-fills null") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-evo").toString)
    val s1 = cat.createOrReplace("t", Seq((1L, "a"), (2L, "b"))
      .toDF("id", "lang"))
    cat.append("t", Seq((3L, "c", 42L)).toDF("id", "lang", "quality"))
    val latest = cat.read(spark, "t")
    assert(latest.columns.sorted === Array("id", "lang", "quality"))
    val byId = latest.collect()
      .map(r => r.getLong(r.fieldIndex("id")) ->
        (if (r.isNullAt(r.fieldIndex("quality"))) None
         else Some(r.getLong(r.fieldIndex("quality"))))).toMap
    assert(byId === Map(1L -> None, 2L -> None, 3L -> Some(42L)))
    // the pre-evolution snapshot still reads with its original schema
    assert(cat.readSnapshot(spark, "t", s1).columns.sorted
      === Array("id", "lang"))
  }

  test("a catalog read runs no Spark job: its schema comes from the log") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-jobs").toString)
    cat.createOrReplace("t", Seq((1L, "a")).toDF("id", "lang"))
    cat.append("t", Seq((2L, 7L, "b")).toDF("id", "quality", "lang"))
    val (jobs, df) = graft.tools.QProbe.countJobs(spark)(cat.read(spark, "t"))
    assert(jobs === 0)
    // fields in first-appearance order; the added one is nullable
    assert(df.columns === Array("id", "lang", "quality"))
    assert(df.schema("quality").nullable)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1),
      Option(r.get(2)))).sortBy(_._1) ===
      Array((1L, "a", None), (2L, "b", Some(7L))))
  }

  test("an append that changes a column's type fails; the table still reads") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog-type").toString)
    val s1 = cat.createOrReplace("t", Seq((1L, "a")).toDF("id", "lang"))
    intercept[IllegalArgumentException](
      cat.append("t", Seq(("2", "b")).toDF("id", "lang")))
    assert(cat.snapshots("t") === Seq(s1))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)) === Array(1L))
  }

  test("an orphan snapshot dir is not read and does not block the next commit") {
    val root = Files.createTempDirectory("graft-catalog-orphan")
    val cat = new LocalCatalog(root.toString)
    cat.createOrReplace("t", Seq(1L, 2L).toDF("x"))
    cat.append("t", Seq(3L).toDF("x"))
    // snapshot 1's files renamed into place as snapshot 3 by a commit
    // whose log line never landed
    val orphan = Files.createDirectory(root.resolve("t/snap_000003"))
    Files.list(root.resolve("t/snap_000001")).forEach(f =>
      Files.copy(f, orphan.resolve(f.getFileName)))
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    assert(cat.append("t", Seq(4L).toDF("x")) === 3L)
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L, 4L))
  }

  test("append after replace keeps the fresh lineage (no resurrection)") {
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog3").toString)
    cat.createOrReplace("t", Seq(1L, 2L).toDF("x"))
    cat.append("t", Seq(3L).toDF("x"))
    cat.createOrReplace("t", Seq(10L).toDF("x"))
    val s4 = cat.append("t", Seq(11L).toDF("x"))
    // round-1 bug: append recorded ALL prior snapshots as parents, so this
    // read resurrected 1,2,3 from before the replace
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(10L, 11L))
    val s5 = cat.append("t", Seq(12L).toDF("x"))
    assert(cat.readSnapshot(spark, "t", s5).collect()
      .map(_.getLong(0)).sorted === Array(10L, 11L, 12L))
    assert(cat.readSnapshot(spark, "t", s4).collect()
      .map(_.getLong(0)).sorted === Array(10L, 11L))
  }

  test("deletion replay: drill-down recompute on a deleted-vertex snapshot") {
    import graft.graph.Edges
    import org.apache.spark.sql.functions.col
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog4").toString)
    val sym = Edges.symmetrize(
      Oracles.sample15.toDF("src", "dst"))
    val s1 = cat.createOrReplace("edges", sym)
    // drill-down: remove vertex 3 (an articulation point of sample15),
    // commit as a new snapshot, recompute CC on it — the reference demo's
    // resume-with-removed-nodes semantics at the table layer
    cat.deleteWhere(spark, "edges", col("src") === 3 || col("dst") === 3)
    val replayed = graft.kernels.ConnectedComponents
      .run(spark, cat.read(spark, "edges")).components
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val direct = graft.kernels.ConnectedComponents
      .run(spark, sym.filter(col("src") =!= 3 && col("dst") =!= 3))
      .components.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(replayed === direct)
    assert(!replayed.contains(3L))
    // the pre-delete graph is still time-travelable
    assert(cat.readSnapshot(spark, "edges", s1).count() === sym.count())
  }

  test("incremental edge derivation over appended corpus snapshots") {
    import graft.corpus.{CorpusGen, EdgeDeriver}
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog2").toString)
    val full = CorpusGen.corpus(spark, CorpusGen.Tiny)
    val half1 = full.limit(100)
    cat.createOrReplace("corpus", half1)
    cat.append("corpus", full.exceptAll(half1))
    // derivation over the appended table == derivation over the full table
    val viaCatalog = EdgeDeriver.edges(cat.read(spark, "corpus"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val direct = EdgeDeriver.edges(full)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(viaCatalog.sameElements(direct))
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE)") {
    import org.apache.spark.sql.functions.col
    val cat = new LocalCatalog(
      Files.createTempDirectory("graft-catalog5").toString)
    cat.createOrReplace("t",
      Seq((1L, Option(9L)), (2L, Option.empty[Long]), (3L, Option(2L)))
        .toDF("id", "x"))
    cat.deleteWhere(spark, "t", col("x") > 5)
    // id 1 deleted (9 > 5 true); id 2 KEPT (NULL predicate); id 3 kept
    assert(cat.read(spark, "t").collect().map(_.getLong(0)).sorted
      === Array(2L, 3L))
  }

  test("compact: content identical, time travel intact, parents pruned") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-compact")
    val cat = new LocalCatalog(root.toString)
    cat.createOrReplace("t", Seq(1L, 2L).toDF("id"))
    cat.append("t", Seq(3L).toDF("id"))
    cat.append("t", Seq(4L).toDF("id"))
    val before = cat.read(spark, "t").collect().map(_.getLong(0)).sorted
    val snapPre = cat.snapshots("t").max
    cat.compact(spark, "t", files = 1)
    val after = cat.read(spark, "t").collect().map(_.getLong(0)).sorted
    assert(after === before)
    // compacted snapshot reads from its own files only (no parent chain)
    // and the pre-compaction snapshot is still time-travelable
    assert(cat.snapshots("t").max > snapPre)
    assert(cat.readSnapshot(spark, "t", snapPre)
      .collect().map(_.getLong(0)).sorted === before)
  }

  test("merge: matched keys update, new keys insert, history intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val cat = new LocalCatalog(root)
    val s0 = cat.createOrReplace("t",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    cat.merge(spark, "t", Seq((2L, "B"), (9L, "i")).toDF("k", "v"), "k")
    val latest = cat.read(spark, "t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(latest == Map(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "i"))
    // pre-merge snapshot unchanged
    val old = cat.readSnapshot(spark, "t", s0).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(old == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("cdc rowDiff: insert/delete/update classified, unchanged silent") {
    import spark.implicits._
    val before = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "v", "n")
    val after = Seq((1L, "a", 10L), (2L, "B", 20L), (4L, "d", 40L))
      .toDF("k", "v", "n")
    val got = Cdc.rowDiff(before, after, "k", Seq("v", "n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "update", 3L -> "delete", 4L -> "insert"))
  }

  test("cdc conflictKeys: only concurrently-changed write-set keys flag") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v")
    // another txn updated k=2 and deleted k=4 since base
    val current = Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v")
    val writeSet = Seq(2L, 3L, 4L, 9L).toDF("k")
    val got = Cdc.conflictKeys(base, current, "k", Seq("v"), writeSet)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 2 conflicts (update), 4 conflicts (delete), 3 clean, 9 (insert-only
    // key no other txn touched) clean
    assert(got == Map(2L -> 1, 3L -> 0, 4L -> 1, 9L -> 0))
  }

  test("zone map: bounds-first verdicts skip by the clustered column") {
    import spark.implicits._
    import graft.catalog.ZoneMap
    val df = Seq((0L, 5L), (1L, 17L), (5L, 19L), (2L, 23L), (4L, 42L))
      .toDF("id", "x")
    // zones of width 10 on x; cluster predicate x in [15,25]; probe
    // predicate id in [0,100] (scatters over every zone)
    val got = ZoneMap.skippingStats(df, "x", 10L, "id",
        cLo = 15L, cHi = 25L, pLo = 0L, pHi = 100L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getInt(6), r.getInt(7)))).toMap
    assert(got(0L) === ((1L, 5L, 5L, 0L, 0L, 0, 1)))
    assert(got(1L) === ((2L, 17L, 19L, 1L, 5L, 1, 1)))
    assert(got(2L) === ((1L, 23L, 23L, 2L, 2L, 1, 1)))
    assert(got(4L) === ((1L, 42L, 42L, 4L, 4L, 0, 1)))
  }

  test("compaction plan: small files pack into cumulative groups") {
    import spark.implicits._
    import graft.catalog.Compaction
    val manifest = Seq((1L, 30L), (2L, 90L), (3L, 40L), (4L, 20L),
      (5L, 35L), (6L, 10L)).toDF("file_id", "size_bytes")
    val got = Compaction.plan(manifest, "file_id", "size_bytes",
        smallBytes = 50L, targetBytes = 60L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3)))).toMap
    // candidates 1,3,4,5,6 (sizes 30,40,20,35,10); cumulative-before:
    // 0,30,70,90,125 -> groups 0,0,1,1,2
    assert(got(1L) === ((30L, 1, 0L)))
    assert(got(2L) === ((90L, 0, -1L))) // big file: not rewritten
    assert(got(3L) === ((40L, 1, 0L)))
    assert(got(4L) === ((20L, 1, 1L)))
    assert(got(5L) === ((35L, 1, 1L)))
    assert(got(6L) === ((10L, 1, 2L)))
  }
}
