package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measurement harness (like ScaleSmoke/RecallSweep — never part of a
  * declared query): replicate a driver testdata directory `factor`× into
  * a local target dir so the full declared-query surface can be benched
  * at 10× the driver's largest SF with the REAL table shapes, not
  * synthetic stand-ins.
  *
  * The replication is growth-realistic, not naive duplication — naive
  * copies would corrupt the cost model this exists to check (10 exact
  * text copies turn every doc into a 10-member duplicate class: LSH pair
  * output grows 45× instead of 10×; identical part names merge fuzzy
  * blocks: Σblock² grows 100×). Per copy `i`:
  *  - every entity key is offset by a multiple of 100 past the source
  *    max (residue-class predicates like doc_id % 5 keep their meaning);
  *    foreign keys get the same offset, so copies are disjoint subgraphs
  *    — joins, graphs, and dedup clusters scale linearly, as adding new
  *    orders/customers/parts would;
  *  - document tokens get a per-copy suffix (new docs are NEW text, not
  *    re-crawls — shingle sets across copies are disjoint);
  *  - part names get a repetition-coded digit prefix on the last token
  *    (two blocks of 3 repeated digits — pairwise edit distance ≥ 3
  *    between ALL copy pairs up to factor 100, proof at the write site;
  *    the r12 single-number prefix broke at factor > 10 via
  *    transposed-digit pairs like 12/21) — no cross-copy fuzzy matches,
  *    within-copy distances unchanged;
  *  - embeddings are sign-flipped per (copy, dim) — a diagonal ±1
  *    rotation preserves EVERY within-copy dot product and norm exactly
  *    (the signs cancel per TERM, so even the decimal-exact sums are
  *    bit-identical) while decorrelating cross-copy cosines — and
  *    (round 11) each copy's `label` space is offset like every other
  *    entity key, so the label codebook grows to the nlist ≈ √n
  *    geometry. CAVEAT (measured r13): decorrelation does NOT make
  *    GLOBAL cell assignment copy-local — the max cosine against
  *    (factor−1)·labels foreign centroids is extreme-value ~σ√(2 ln k)
  *    ≈ 0.39 at factor 100 (σ = 1/√64), far above this corpus's own-
  *    centroid signal (~0.07 mean), so argmax assignment crosses copies
  *    for ~98% of vectors. That is a property of the DATA's weak
  *    cluster structure, not a replication defect — within-copy
  *    geometry is still EXACT, which is what ScaleRatios checks
  *    (per-copy restriction of semantic_dedup must reproduce the
  *    source bit-for-bit);
  *  - events extend the time axis: copy i shifts ts by i·span (rounded
  *    to whole hours, so candle buckets stay aligned) with offset
  *    user/event ids — longer history × more users, the real shape of
  *    10× market data.
  * nation/region are TPC-H-style fixed dimensions and copy unchanged.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // Optional 4th arg: comma-separated table subset (default: all) —
    // a targeted sf10 build needn't write 60M lineitem rows when the
    // families under test only read part/documents/embeddings.
    val want: String => Boolean = args.lift(3) match {
      case Some(list) => list.split(',').map(_.trim).toSet
      case None => (_: String) => true
    }
    // Optional 5th arg "sqrtlabels": grow the embedding LABEL space
    // ∝ √factor instead of ∝ factor. The default per-copy-disjoint
    // namespaces keep within-copy geometry exact (ScaleRatios'
    // bit-for-bit per-copy invariants need that), but they make the
    // codebook grow ∝ n — so the factor-100/300 exponents for the
    // kmeans/IVF family measure CODEBOOK growth (O(n·nlist·d) with
    // nlist ∝ n → n²), not the operators. The real-index geometry is
    // nlist ≈ √n (RecallSweep's 1M-vector measurement, SCALE.md r11);
    // under sqrtlabels ⌈√factor⌉ copies share each namespace
    // (namespace = copy mod ⌈√factor⌉), so nlist tracks √n and the
    // family's cost law is measured at the geometry a real deployment
    // would run. Trade-off, documented not hidden: vectors in one
    // namespace span differently-rotated copies, so shared-label
    // centroids are cross-copy mixtures — per-copy restriction
    // invariants do NOT hold in this mode; it exists for the cost-law
    // probes only (r14 verdict item 3).
    val sqrtLabels = args.lift(4).contains("sqrtlabels")
    val spark = Sessions.get("graft-scale-up")
    new java.io.File(dst).mkdirs()

    /** Key offset per copy: the source max rounded up to a multiple of
      * 100 (residues mod 2/4/5/10/20/25/50/100 survive the shift).
      */
    def step(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      ((mx / 100L) + 1L) * 100L
    }

    def copies(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionByName _)

    def write(name: String, df: => DataFrame): Unit = if (want(name)) {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name done")
    }

    // fixed dimensions: straight copy
    for (t <- Seq("region", "nation"))
      write(t, spark.read.parquet(s"$src/$t.parquet"))

    // Every read AND step aggregation is lazy (r11 ADVICE): a targeted
    // subset build (4th arg) must neither scan nor even require the
    // existence of excluded tables. Cross-table key deps stay honest —
    // building `orders` alone still forces custStep (its foreign keys
    // need the offset), but a {part,documents,embeddings} build touches
    // nothing else.
    lazy val customer = spark.read.parquet(s"$src/customer.parquet")
    lazy val supplier = spark.read.parquet(s"$src/supplier.parquet")
    lazy val part = spark.read.parquet(s"$src/part.parquet")
    lazy val orders = spark.read.parquet(s"$src/orders.parquet")
    lazy val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    lazy val custStep = step(customer, "c_custkey")
    lazy val suppStep = step(supplier, "s_suppkey")
    lazy val partStep = step(part, "p_partkey")
    lazy val orderStep = step(orders, "o_orderkey")

    write("customer", copies(customer) { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custStep))
    })
    write("supplier", copies(supplier) { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppStep))
    })
    // Per-copy name prefix: every cross-copy name pair must stay at edit
    // distance > 2 (fuzzy_join_parts' maxDist) or copies fuzzy-match
    // each other and Σblock² stops being linear. The r12 scheme
    // ($i$i$i) silently broke at factor > 10: multi-digit copy ids make
    // prefixes like 12→"121212" vs 21→"212121", which are edit distance
    // 2 apart (36 such transposed-digit pairs under factor 100 — caught
    // by the r13 ScaleRatios run: 31.76 M fuzzy pairs instead of the
    // exact 22.05 M). Fix: two REPETITION blocks, digit(i/10)×3 ++
    // digit(i%10)×3. Proof of pairwise distance ≥ 3 for any factor ≤
    // 100: base names are letter-only, so any edit path from
    // prefixA+name to prefixB+name changes the DIGIT subsequence by at
    // most one symbol per edit, hence ED ≥ ED(prefixA, prefixB); for
    // two distinct (d1, d2) codes the 6-char block strings have LCS ≤ 3
    // (a repeated block can only align whole), so ED ≥ 3; vs copy 0
    // (no prefix) the digit subsequence alone costs 6. Within-copy
    // distances are untouched (common-prefix invariance of
    // Levenshtein).
    // Factor > 100 (r15, for the factor-300 fuzzy probe): THREE
    // repetition blocks, digit(i/100)×3 ++ digit(i/10%10)×3 ++
    // digit(i%10)×3, used uniformly for every copy of such a build so
    // the pairwise proof stays scheme-internal. Same LCS argument: two
    // distinct 3-block code strings (length 9) have LCS ≤ 6 (a repeated
    // block can only align whole), so ED ≥ 3; vs copy 0 the digit
    // subsequence alone costs 9. Builds at factor ≤ 100 keep the
    // 2-block form so their replicated data is byte-identical to every
    // previously measured sf10 build.
    def namePrefix(i: Int): String = {
      require(i < 1000,
        s"part-name prefix code covers at most 1000 copies (copy $i)")
      if (factor <= 100) {
        val (d1, d2) = (i / 10, i % 10)
        s"$d1$d1$d1$d2$d2$d2"
      } else {
        val (d1, d2, d3) = (i / 100, (i / 10) % 10, i % 10)
        s"$d1$d1$d1$d2$d2$d2$d3$d3$d3"
      }
    }
    write("part", copies(part) { (df, i) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partStep))
        .withColumn("p_name", if (i == 0) col("p_name")
          else regexp_replace(col("p_name"), "(\\S+)$",
            s"${namePrefix(i)}$$1"))
    })
    write("orders", copies(orders) { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderStep))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custStep))
    })
    write("lineitem", copies(lineitem) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderStep))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partStep))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppStep))
    })

    lazy val docs = spark.read.parquet(s"$src/documents.parquet")
    lazy val docStep = step(docs, "doc_id")
    write("documents", copies(docs) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docStep))
        .withColumn("text", if (i == 0) col("text")
          else concat_ws(" ", transform(split(col("text"), "\\s+"),
            t => concat(t, lit(s"${i}q")))))
    })

    lazy val vecs = spark.read.parquet(s"$src/embeddings.parquet")
    lazy val vecStep = step(vecs, "vec_id")
    // label namespace per copy: same rounding rule as entity keys (max
    // label 9 → step 100). Growth-realistic cluster structure — see the
    // scaladoc; within-copy assignments are exactly preserved (own-copy
    // centroids are the same diagonal rotation as the copy's vectors,
    // cross-copy centroid cosines decorrelate), so SemDeDup kept/cell
    // counts must come out EXACTLY factor× the source values.
    lazy val labelStep =
      ((vecs.agg(max(col("label").cast("long"))).head().getLong(0) / 100L)
        + 1L) * 100L
    lazy val nLabelGroups = math.ceil(math.sqrt(factor.toDouble)).toInt
    write("embeddings", copies(vecs) { (df, i) =>
      val labelNs = if (sqrtLabels) i % nLabelGroups else i
      df.withColumn("vec_id", col("vec_id") + lit(i * vecStep))
        .withColumn("label",
          (col("label") + lit(labelNs * labelStep)).cast("int"))
        .withColumn("embedding", if (i == 0) col("embedding")
          else transform(col("embedding"), (x, d) =>
            (x * when(pmod(hash(d, lit(i)), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast("float")))
    })

    // Tables.table normalizes ts (NANOS-as-long / NTZ) to a session-TZ
    // TIMESTAMP — written back, that form round-trips through the same
    // normalization, so the scaled dir serves every consumer identically
    if (want("events")) {
    val events = Tables.table(spark, src, "events")
    val evRange = events.agg(
      max(col("event_id")), max(col("user_id")),
      unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).head()
    val evStep = ((evRange.getLong(0) / 100L) + 1L) * 100L
    val userStep = ((evRange.getLong(1) / 100L) + 1L) * 100L
    val hourUs = 3600L * 1000000L
    val spanUs = ((evRange.getLong(2) / hourUs) + 1L) * hourUs
    write("events", copies(events) { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * evStep))
        .withColumn("user_id", col("user_id") + lit(i * userStep))
        .withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + lit(i * spanUs)))
    })
    }

    spark.stop()
  }
}
