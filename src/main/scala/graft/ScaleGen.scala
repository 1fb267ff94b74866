package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize K× tiers from sf0.1 for scaling measurements
  * (no oracle at these tiers — they exist to observe how each
  * operator's wall time grows with input size).
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <k>
  *
  * Each copy c>0 offsets every key by c×(a tier-wide stride) so joins
  * stay consistent within a copy and keys never collide across copies.
  * Document text is perturbed per copy by one appended copy-tag word
  * (n_chars updated). That breaks EXACT duplication only: a single
  * extra word leaves trigram/shingle Jaccard high, so a doc's K copies
  * remain mutual NEAR-duplicates and the dedup families' candidate
  * OUTPUT grows ~K² by construction (measured in SCALING.md: minhash
  * 255→31 805 verified pairs at 4×; the r2 pre-verify candidate count
  * was 31 812) while wall time stays sub-quadratic — the
  * K× tiers stress-test prune/bucket structure under heavy dup load,
  * they do not model a dedup-light real corpus.
  *
  * Mode `bounded` (optional 4th arg; round 8): clone clusters with
  * DISJOINT membership instead. Each copy's text goes through one
  * per-copy AFFINE CHARACTER CIPHER x → a·x+b (mod 26), a coprime to
  * 26 (see the inline derivation at the documents transform). A
  * letter bijection is simultaneously a bijection on character
  * trigrams and on alphabetic tokens (hence word shingles), and
  * Jaccard is invariant under any bijection of the element universe —
  * so each copy's within-copy true-pair set equals the source
  * corpus's EXACTLY and true near-dup pairs grow EXACTLY K× (pair
  * counts verified K× at 4×/16×/64×, SCALING.md). Cross-copy, two
  * distinct affine maps agree on at most 2 letters, so cross-copy
  * similarity is ~0 — NOT exactly 0: non-letter characters (digits,
  * punctuation) pass through `translate` unchanged, so all-digit
  * tokens and digit-bearing trigrams survive across copies. The
  * residue is far below every dedup threshold (measured: cross-copy
  * candidate pairs 0 at every tier), so cluster COUNT grows K× and
  * cluster SIZE stays bounded at the source corpus's. This is the
  * honest fixture for the iterative dedup family: a real 100 TB
  * corpus has ~constant cluster size and O(corpus) near-dup edges,
  * which the default near-dup mode's K² construction deliberately
  * violates.
  */
object ScaleGen {
  private val Stride = 100000000L

  def main(args: Array[String]): Unit = {
    val (src, out, kStr, mode) = args match {
      case Array(s, o, kk)    => (s, o, kk, "neardup")
      case Array(s, o, kk, m) => (s, o, kk, m)
    }
    require(mode == "neardup" || mode == "bounded", s"unknown mode $mode")
    val k = kStr.toInt
    val spark = GraftSession(GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(c => shift(df, c)).reduce(_ unionByName _)

    def off(c: Int) = lit(c * Stride)

    // Dimensions stay 1x (they broadcast; scaling them would only
    // break key references): region, nation, customer, supplier, part.
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      Tables.table(spark, src, t).write.mode("overwrite").parquet(s"$out/$t.parquet")

    copies(Tables.orders(spark, src)) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + off(c))
    }.write.mode("overwrite").parquet(s"$out/orders.parquet")

    copies(Tables.lineitem(spark, src)) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + off(c))
    }.write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    copies(Tables.events(spark, src)) { (df, c) =>
      df.withColumn("event_id", col("event_id") + off(c))
        .withColumn("user_id", col("user_id") + off(c))
    }.write.mode("overwrite").parquet(s"$out/events.parquet")

    copies(Tables.documents(spark, src)) { (df, c) =>
      val txt =
        if (mode == "bounded") {
          // One per-copy AFFINE CHARACTER CIPHER x → a·x+b (mod 26), a
          // coprime to 26 — 312 distinct letter bijections. A char
          // bijection is simultaneously a bijection on character
          // TRIGRAMS and on TOKENS (hence 5-word shingles), and
          // Jaccard is invariant under any bijection of the element
          // universe — so every copy's true-pair set under BOTH
          // similarity notions equals the source corpus's EXACTLY,
          // and true pairs grow exactly K×. Cross-copy: two distinct
          // affine maps agree on at most gcd(a1−a2, 26) ≤ 2 letters
          // (and on zero letters when only b differs), so cross-copy
          // docs share essentially no trigrams and no tokens —
          // cross-copy Jaccard ~0 under both notions. A word-length-
          // preserving, same-length transform, so n_chars and all
          // token statistics are copy-invariant too.
          val as = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
          val (a, b) = (as(c % as.size), (c / as.size) % 26)
          require(c < as.size * 26, s"bounded mode supports K <= ${as.size * 26}")
          val lower = ('a' to 'z').mkString
          val upper = ('A' to 'Z').mkString
          def aff(s: String) = s.map(ch => s((s.indexOf(ch) * a + b) % 26))
          translate(col("text"), lower + upper, aff(lower) + aff(upper))
        } else if (c == 0) col("text")
        else concat(col("text"), lit(s" xcopytag$c xmark${c}a xmark${c}b"))
      df.withColumn("doc_id", col("doc_id") + off(c))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt))
    }.write.mode("overwrite").parquet(s"$out/documents.parquet")

    copies(Tables.embeddings(spark, src)) { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + off(c))
    }.write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"SCALEGEN wrote ${k}x tier at $out")
    spark.stop()
  }
}
