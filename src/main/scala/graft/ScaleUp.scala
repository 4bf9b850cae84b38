package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal generator: replicate an SF directory `factor`×
  * into a new directory, each copy a DISJOINT key universe, so the
  * bench can be rehearsed one decade above the driver's largest SF
  * (BASELINE.md "Scaling across SF" validates the ~1.44×/decade
  * suite claim where data starts to dominate scheduling).
  *
  * Scaling rules (what "10× the data" means here, chosen to mimic
  * how the generator itself would grow SF):
  *  - every per-copy ENTITY key (orderkey, custkey, suppkey,
  *    partkey, doc_id, vec_id, event_id, user_id) shifts by
  *    copy·10⁹ on BOTH sides of each FK — join selectivity and
  *    per-key group sizes are preserved exactly, copies never join
  *    each other;
  *  - fixed dimensions (region, nation) and their FKs stay fixed —
  *    low-cardinality group keys grow 10× in group SIZE, not count,
  *    exactly like real scale growth;
  *  - document tokens get a per-copy prefix (copy 0 verbatim), so
  *    cross-copy shingles/minhashes DON'T collide — otherwise every
  *    doc would acquire factor-1 near-dup twins and the LSH family
  *    would measure an adversarial dup-blowup, not a 10× corpus;
  *  - embedding labels shift per copy: the label-blocked quadratic
  *    ops (sim_pairs_threshold) scale linearly like a corpus whose
  *    label vocabulary grows with it, and per-label cell sizes hold;
  *  - events keep their timestamps (10× events over the same span =
  *    10× the arrival rate) and their raw int64-nanos ts encoding so
  *    Tables.loadEvents reads the generated dir unchanged.
  */
object ScaleUp {

  private val KeyOffset = 1000000000L // divisible by 4 (table bucketing)

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val plantSkew = if (args.length > 3) args(3).toInt else 0
    val plantHub = if (args.length > 4) args(4).toInt else 0
    val spark = Runner.session("graft-scaleup")
    generate(spark, src, dst, factor, plantSkew, plantHub)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, dst: String, factor: Int,
      plantSkew: Int = 0, plantHub: Int = 0): Unit = {
    // fail BEFORE any table is written — a partial dst (fixed dims
    // only) looks like a valid dataset to a later consumer
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // One parquet FILE per table, exactly the driver's testdata
    // layout — a part-file directory breaks consumers that match on
    // the file name (fileRoundtrip's pathGlobFilter streamed ZERO
    // files from a directory-per-table sf1 and summarized an empty
    // sink). Parquet files split at row-group boundaries, so scan
    // parallelism at bench time is unaffected by the single file.
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/.tmp_$t"
      // 16 MB row groups: a single-file table is only as parallel as
      // its row-group count (a scan split never straddles one), and
      // the default 128 MB block would leave sf1's 113 MB lineitem
      // ONE row group — a serial scan that cost the first rehearsal
      // run 2x (183 s vs 89 s). Pairs with the session's matching
      // spark.sql.files.maxPartitionBytes (Tables.sessionConf).
      df.repartition(1).write.mode("overwrite")
        .option("parquet.block.size", (16 << 20).toString)
        .parquet(tmp)
      val tmpDir = new java.io.File(tmp)
      val part = tmpDir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      val target = new java.io.File(s"$dst/$t.parquet")
      if (target.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(target)
      }
      java.nio.file.Files.move(part.toPath, target.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmpDir.listFiles().foreach(_.delete())
      tmpDir.delete()
    }

    def copies(t: String)(f: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = read(t)
      (0 until factor).map(k => f(base, k)).reduce(_ unionByName _)
    }
    def off(k: Int): Long = k.toLong * KeyOffset
    def shift(df: DataFrame, k: Int, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + off(k)))

    // fixed dims: verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")
    // scale-growing dims: entity key shifts, fixed-dim FKs untouched
    write(copies("customer")(shift(_, _, "c_custkey")), "customer")
    write(copies("supplier")(shift(_, _, "s_suppkey")), "supplier")
    write(copies("part")(shift(_, _, "p_partkey")), "part")
    // facts: shift every FK to a scale-growing relation
    write(copies("orders")(shift(_, _, "o_orderkey", "o_custkey")), "orders")
    write(copies("lineitem")(
      shift(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events: ts stays raw int64 nanos (see Tables.loadEvents)
    write(copies("events")(shift(_, _, "event_id", "user_id")), "events")
    // the per-copy prefix is only collision-free if no SOURCE token
    // already looks like one (a source "c1x" + copy-1's rewrite of
    // "x" -> "c1x" would hand LSH synthetic cross-copy near-dups) —
    // copy 0 stays verbatim, so check the real corpus instead of
    // assuming it (one map-only aggregate; negligible vs generation)
    if (factor > 1) {
      val clashing = read("documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").rlike("^c[1-9][0-9]*"))
        .limit(1).count()
      require(clashing == 0L,
        "source corpus has tokens matching the per-copy prefix " +
          "'c<k>' — pick a different tag before scaling this corpus")
    }
    val scaledDocs = copies("documents") { (d, k) =>
      val tagged =
        if (k == 0) d
        else d.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            t => concat(lit(s"c$k"), t))))
          .withColumn("n_chars", length(col("text")))
      shift(tagged, k, "doc_id")
    }
    // --plant-skew N: append one boilerplate near-dup cluster — N
    // VERBATIM-identical docs (think license headers / scraped nav
    // chrome), which share every minhash band and therefore land in
    // ONE LSH band bucket. The rehearsal then exercises the AQE
    // skew-join path of the dedup family at bench scale instead of
    // leaving the hot-bucket story to configuration (SkewSpec proves
    // the split mechanism at test size; this makes the sf1 rehearsal
    // carry the same adversarial shape). doc_ids sit above every
    // copy's shifted range; source tag marks them for inspection.
    val withSkew =
      if (plantSkew <= 0) scaledDocs
      else {
        import spark.implicits._
        val boiler = "this content is provided as is without warranty " +
          "of any kind either express or implied including without " +
          "limitation the implied warranties of merchantability and " +
          "fitness for a particular purpose"
        scaledDocs.unionByName(
          spark.range(plantSkew.toLong).select(
            (col("id") + lit(factor.toLong * KeyOffset)).as("doc_id"),
            lit(boiler).as("text"),
            lit("en").as("lang"),
            lit("boilerplate").as("source"),
            lit(boiler.length.toLong).as("n_chars")))
      }
    write(withSkew, "documents")
    val scaledEmb = copies("embeddings") { (d, k) =>
      shift(d, k, "vec_id")
        .withColumn("label", (col("label") + lit(k * 1000)).cast("int"))
    }
    // --plant-hub N (args(4)): append N IDENTICAL embedding vectors —
    // the celebrity-node shape for the graph family. Every clone
    // shares every SRP band bucket, so candidate generation gets an
    // N²-pair hot bucket AND, after top-k (ties break toward low
    // vec_id), the k lowest-id clones absorb ~N incoming edges each:
    // undirected degree ~N hubs. Triangles' low→high degree
    // orientation claims Σoutdeg² stays bounded under exactly this
    // shape — the sf1 rehearsal measures it (BASELINE.md) instead of
    // leaving the hub story to the Scaladoc. vec_ids sit above every
    // copy's shifted range; the fresh label marks them for
    // inspection and keeps real label blocks untouched.
    val withHub =
      if (plantHub <= 0) scaledEmb
      else {
        val hubVec = array((0 until 64).map(i =>
          lit((((i % 13) - 6) * 0.125).toFloat)): _*)
        scaledEmb.unionByName(
          spark.range(plantHub.toLong).select(
            (col("id") + lit(factor.toLong * KeyOffset)).as("vec_id"),
            hubVec.as("embedding"),
            lit(999999).cast("int").as("label")))
      }
    write(withHub, "embeddings")
  }
}
