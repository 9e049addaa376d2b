package graft

import org.apache.spark.sql.functions._

/** Synthesizes a larger scale factor from the driver's largest shipped one
  * (sf0.1) for LOCAL scale-up measurement: facts are unioned K times with
  * join keys shifted per copy (so lineitem⋈orders fan-out is preserved,
  * not squared), dims are copied as-is — the same shape TPC-H scaling has
  * for small SFs. Usage:
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/graft_sf1 10"
  * The output is for the scale-up check only (BENCH_LOCAL.md); driver
  * correctness always runs against the shipped testdata.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional table subset (comma-separated) for targeted probes — the
    // sf10 dedup check needs 100x documents, not 100x lineitem
    val onlyTables = args.lift(3).map(_.split(',').map(_.trim).toSet)
    def wanted(name: String): Boolean = onlyTables.forall(_.contains(name))
    // "salt": per-copy token salt on documents.text. Plain copies are EXACT
    // duplicates, so every doc gains `copies` replicas and pair-emitting
    // dedup (MinHash/SimHash buckets) produces O(copies²) output — measuring
    // output explosion, not pipeline throughput. Salting every token with
    // the copy index keeps each copy's INTERNAL shingle/segment structure
    // isomorphic (within-copy dups survive) while killing all cross-copy
    // similarity: dup density per copy matches the base corpus and volume
    // scales linearly — the honest setup for a throughput-linearity probe.
    val saltText = args.lift(4).contains("salt")
    val spark = LocalSpark.session()

    def copyOf(name: String): Unit =
      Tables.df(spark, src, name).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    /** union `copies` key-shifted replicas; shift spacing far above any
      * real key so copies never collide
      */
    def scaled(name: String, keyShifts: Map[String, Long]): Unit = {
      val base = Tables.df(spark, src, name)
      val un = (0 until copies).map { i =>
        val shifted = keyShifts.foldLeft(base) { case (df, (c, spacing)) =>
          df.withColumn(c, col(c) + lit(i * spacing))
        }
        if (saltText && name == "documents") {
          shifted.withColumn("text",
            concat_ws(" ", transform(split(col("text"), " "),
              t => concat(t, lit("_"), lit(i)))))
        } else if (saltText && name == "embeddings" && i > 0) {
          // per-copy coordinate ROTATION (a permutation = exact isometry):
          // every pairwise dot/norm WITHIN a copy is bit-identical to the
          // base corpus (near-dup structure preserved exactly), while
          // cross-copy cosine drops to that of decorrelated vectors —
          // without this, copies are EXACT vector duplicates and every
          // pair-emitting ANN/near-dup probe goes quadratic by
          // construction (the round-8 p03 lesson, measured at 545s vs
          // 0.5s salted)
          // composed with a per-copy deterministic SIGN FLIP (a diagonal ±1
          // matrix applied uniformly within the copy — sign_j² = 1 keeps
          // every within-copy dot bit-identical): rotation alone has only
          // `dim` distinct values, so at copies > EmbDim(=64) copy i and
          // copy i+64 would be exact vector duplicates again
          shifted.withColumn("embedding", expr(
            s"transform(sequence(0, size(embedding) - 1), " +
              s"j -> element_at(embedding, ((j + $i) % size(embedding)) + 1)" +
              s" * cast(1 - 2 * pmod(hash(j, $i), 2) as float))"))
        } else shifted
      }.reduce(_ unionAll _)
      un.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
    }

    Seq("region", "nation", "customer", "supplier", "part")
      .filter(wanted).foreach(copyOf)
    val orderSpacing = 1000000000L
    if (wanted("orders")) scaled("orders", Map("o_orderkey" -> orderSpacing))
    if (wanted("lineitem")) scaled("lineitem", Map("l_orderkey" -> orderSpacing))
    if (wanted("events")) scaled("events", Map("event_id" -> 100000000L))
    if (wanted("documents")) scaled("documents", Map("doc_id" -> 10000000L))
    if (wanted("embeddings")) scaled("embeddings", Map("vec_id" -> 10000000L))
    // scalastyle:off println
    println(s"wrote ${copies}x of $src to $out")
    // scalastyle:on println
    spark.stop()
  }
}
