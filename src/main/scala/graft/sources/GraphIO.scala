package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interop with the reference's on-disk graph formats, as declarative
  * text-scan plans (SURVEY §1.2; `docs/TUTORIALS.md:24-48`):
  *
  *  - `normal`:   `vid \t num nb1 nb2 …`  (`sample-datasets/normal_sample.adj`)
  *  - `label`:    `vid label \t nb1 lbl1 nb2 lbl2 …`
  *
  * The line parse is pure builtin (`split`/`cast` — no UDF, stays in
  * whole-stage codegen); at production scale the graph lives as columnar
  * parquet/Iceberg and these readers are the migration path from the
  * reference's HDFS text partitions (its `to_vertex` UDF,
  * `core/slave.hpp:96`).
  */
object GraphIO {

  /** Read `normal` format → (src: long, adj: array<long>), neighbors
    * sorted (the reference sorts adjacency on load,
    * `apps/trianglecount.cpp:360`). */
  def readNormalAdj(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t").as("p"))
      .select(col("p").getItem(0).cast("long").as("src"),
        split(trim(col("p").getItem(1)), " +").as("toks"))
      // first token is the neighbor count; the rest are neighbor ids.
      // length must be exact, NOT Int.MaxValue: interpreted Slice adds
      // start + length with a plain int add, so 1 + MaxValue overflows
      // negative and returns an EMPTY array whenever the plan falls off
      // the codegen path (codegen clamps; interpreted must agree)
      .select(col("src"),
        sort_array(slice(col("toks"), lit(2), greatest(size(col("toks")) - 1,
          lit(0))).cast("array<long>")).as("adj"))

  /** Read `label` format → (src: long, label: string, nbrs array, labels array). */
  def readLabelAdj(spark: SparkSession, path: String): DataFrame = {
    val pairs = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t").as("p"))
      .select(split(trim(col("p").getItem(0)), " +").as("v"),
        split(trim(col("p").getItem(1)), " +").as("toks"))
    pairs.select(
      col("v").getItem(0).cast("long").as("src"),
      col("v").getItem(1).as("label"),
      filter(transform(col("toks"),
        (t, i) => when(i % 2 === 0, t.cast("long"))), _.isNotNull)
        .as("nbrs"),
      filter(transform(col("toks"),
        (t, i) => when(i % 2 === 1, t)), _.isNotNull).as("labels"))
  }

  /** Read `attr` format — `vid \t attr1 attr2 … \t num nb1 nb2 …` (string
    * vertex attrs + plain adjacency, `sample-datasets/attr_sample.adj`,
    * `docs/TUTORIALS.md:24-42`; parsed by the CD app's to_vertex,
    * `apps/community.cpp:502-544`, which also sorts and dedups the attr
    * list and drops "0" placeholders) →
    * (src: long, attrs: array<string>, adj: array<long>), both sorted. */
  def readAttrAdj(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t").as("p"))
      .select(col("p").getItem(0).cast("long").as("src"),
        // drop "0" placeholders AND the empty token an attr-less field
        // splits into (else write->read would invent a phantom "" attr)
        array_sort(array_distinct(filter(
          split(trim(col("p").getItem(1)), "[; ]+"),
          t => t =!= "0" && t =!= "")))
          .as("attrs"),
        split(trim(col("p").getItem(2)), " +").as("toks"))
      .select(col("src"), col("attrs"),
        sort_array(slice(col("toks"), lit(2), greatest(size(col("toks")) - 1,
          lit(0))).cast("array<long>")).as("adj"))

  /** Read `multi_attr` format — `vid \t attr1 attr2 … \t num nb1 w1 nb2 w2 …`
    * (string vertex attrs + per-edge double weights,
    * `sample-datasets/multi_attr_sample.adj`) → directed weighted edge rows
    * (src, attrs array<string>, dst, weight). Token 0 of the third field is
    * the neighbor count; pairs follow. */
  def readMultiAttrEdges(spark: SparkSession, path: String): DataFrame = {
    val parsed = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(split(col("value"), "\t").as("p"))
      .select(col("p").getItem(0).cast("long").as("src"),
        split(trim(col("p").getItem(1)), " +").as("attrs"),
        split(trim(col("p").getItem(2)), " +").as("toks"))
    parsed.select(col("src"), col("attrs"),
        explode(filter(transform(col("toks"), (t, i) =>
          when(i % 2 === 1,
            struct(t.cast("long").as("dst"),
              element_at(col("toks"), (i + 2).cast("int")).cast("double")
                .as("weight")))), _.isNotNull)).as("e"))
      .select(col("src"), col("attrs"), col("e.dst"), col("e.weight"))
  }

  /** Write (src, adj) back out in `normal` format (S4 partition-dump
    * analog, `partition/Driver.tpp:24-39` — minus the baked-in worker ids,
    * which Spark's partitioning replaces). */
  def writeNormalAdj(adj: DataFrame, path: String): Unit =
    adj.select(concat_ws("\t", col("src"),
        concat_ws(" ", size(col("adj")), concat_ws(" ", col("adj"))))
      .as("value"))
      .write.mode("overwrite").text(path)

  /** Write `label` format — `vid label \t nb1 lbl1 nb2 lbl2 …` — from
    * (src, label, nbrs array<long>, labels array<string>) rows (the shape
    * [[readLabelAdj]] produces). */
  def writeLabelAdj(df: DataFrame, path: String): Unit =
    df.select(concat_ws("\t",
        concat_ws(" ", col("src"), col("label")),
        array_join(flatten(zip_with(col("nbrs"), col("labels"),
          (n, l) => array(n.cast("string"), l))), " "))
      .as("value"))
      .write.mode("overwrite").text(path)

  /** Write `attr` format — `vid \t attr1 attr2 … \t num nb1 nb2 …` — from
    * (src, attrs array<string>, adj array<long>) rows. */
  def writeAttrAdj(df: DataFrame, path: String): Unit =
    df.select(concat_ws("\t", col("src"),
        concat_ws(" ", col("attrs")),
        concat_ws(" ", size(col("adj")), concat_ws(" ", col("adj"))))
      .as("value"))
      .write.mode("overwrite").text(path)

  /** Write `multi_attr` format — `vid \t attrs \t num nb1 w1 nb2 w2 …` —
    * from directed weighted edge rows (src, attrs array<string>, dst,
    * weight), the shape [[readMultiAttrEdges]] produces. Neighbors are
    * written dst-ascending so the dump is canonical. */
  def writeMultiAttrAdj(df: DataFrame, path: String): Unit =
    df.groupBy(col("src"))
      // lexicographically-min attr array, NOT first(): first() is
      // nondeterministic when a source's edge rows carry differing attr
      // arrays, which would make the dump silently run-to-run-unstable
      .agg(get(array_sort(collect_set(col("attrs"))), lit(0)).as("attrs"),
        sort_array(collect_list(struct(col("dst"),
          col("weight").cast("double").as("weight")))).as("nb"))
      .select(concat_ws("\t", col("src"),
          concat_ws(" ", col("attrs")),
          concat_ws(" ", size(col("nb")),
            array_join(flatten(transform(col("nb"),
              e => array(e.getField("dst").cast("string"),
                e.getField("weight").cast("string")))), " ")))
        .as("value"))
      .write.mode("overwrite").text(path)
}
