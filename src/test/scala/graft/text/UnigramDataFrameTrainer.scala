package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import UnigramTrain.{KeepMulti, MaxPieceLen, SeedMulti}

/** The DataFrame formulation of [[UnigramTrain.localTrain]]: the same
  * two-round hard-EM trainer with every stage a Spark operator. The
  * registered queries serve from the driver-side trainer; this one is the
  * independent reference UnigramTrainSpec checks it against, term for
  * term.
  *
  * Shape: the seed inventory is a scan-side substring emit over the
  * dictionary followed by one bounded TakeOrdered; the piece model is a
  * small map broadcast onto the dictionary scan through a
  * `crossJoin(broadcast(1-row))`; the Viterbi DP is a scan-side
  * `aggregate` fold; usage re-estimation is one piece-keyed aggregate.
  */
object UnigramDataFrameTrainer {

  /** Frequency-weighted substring counts over the dictionary: every
    * occurrence of every substring of length 1..[[MaxPieceLen]], weighted by
    * the word's corpus count. Scan-side nested transform + one piece-keyed
    * aggregate (the `q_vocab` shuffle shape at corpus scale).
    */
  def substringCounts(dict: DataFrame): DataFrame =
    dict
      .select(col("n"), explode(flatten(transform(
        sequence(lit(1), length(col("w"))), i =>
          transform(
            sequence(lit(1), least(lit(MaxPieceLen), length(col("w")) - i + 1)),
            t => col("w").substr(i, t))))).as("p"))
      .groupBy("p").agg(sum(col("n")).as("cnt"))

  /** The seed inventory: all single characters (DP totality) plus the top
    * [[SeedMulti]] multi-char substrings by (cnt desc, piece asc) — a
    * bounded distributed TakeOrdered, the same cap stance as the BPE
    * dictionary.
    */
  def seed(dict: DataFrame): DataFrame = {
    val subs = substringCounts(dict)
    subs.filter(length(col("p")) === 1).unionAll(
      subs.filter(length(col("p")) >= 2)
        .orderBy(col("cnt").desc, col("p").asc).limit(SeedMulti))
  }

  /** Attach the integer bit-cost to each piece of a (p, cnt) inventory:
    * bits = floor(log2(T div cnt)) with T the inventory's total mass. T is
    * a broadcast scalar (1-row crossJoin).
    */
  def withBitCosts(inv: DataFrame): DataFrame =
    inv.crossJoin(broadcast(inv.agg(sum(col("cnt")).as("t"))))
      .select(col("p"), col("cnt"),
        expr("CAST(length(bin(t div cnt)) - 1 AS BIGINT)").as("bits"))

  /** Fold a (p, cnt, bits) cost table into a 1-row broadcastable map frame. */
  def costMap(costs: DataFrame): DataFrame =
    costs.agg(map_from_arrays(
      collect_list(col("p")), collect_list(col("bits"))).as("m"))

  /** Viterbi-segment every dictionary word under a broadcast piece-cost map:
    * dp[j] = min over t in 1..min(L, j) of dp[j-t] + bits(w[j-t+1..j]),
    * minimizing (total_bits, n_pieces, piece string) — the unique-winner
    * total order the oracle replays. Entirely scan-side: one `aggregate`
    * fold over the word's positions, candidates enumerated with `transform`,
    * the argmin taken by `array_min`'s struct ordering (field order =
    * tie-break order). Unreachable states cannot occur — the seed contains
    * every single character of every dictionary word.
    */
  def segment(dict: DataFrame, mapDf: DataFrame): DataFrame = {
    val dpl = aggregate(
      sequence(lit(1), length(col("w"))),
      array(struct(lit(0L).as("bits"), lit(0L).as("np"), lit("").as("seq"))),
      (acc: Column, j: Column) => concat(acc, array(
        array_min(filter(
          transform(sequence(lit(1), least(lit(MaxPieceLen), j)), t => {
            val start = j - t + 1
            val piece = col("w").substr(start, t)
            val pb = element_at(col("m"), piece)
            val prev = element_at(acc, start)
            when(pb.isNotNull, struct(
              (prev.getField("bits") + pb).as("bits"),
              (prev.getField("np") + lit(1L)).as("np"),
              when(prev.getField("seq") === "", piece)
                .otherwise(concat(prev.getField("seq"), lit("/"), piece))
                .as("seq")))
          }),
          c => c.isNotNull)))))
    dict.crossJoin(broadcast(mapDf))
      .withColumn("dpl", dpl)
      .select(col("w"), col("n"),
        element_at(col("dpl"), length(col("w")) + 1).getField("bits")
          .as("total_bits"),
        element_at(col("dpl"), length(col("w")) + 1).getField("np")
          .as("n_pieces"),
        element_at(col("dpl"), length(col("w")) + 1).getField("seq")
          .as("pieces"))
  }

  /** Hard-EM piece usage: frequency-weighted occurrence counts of each piece
    * across the winning segmentations (one piece-keyed aggregate).
    */
  def usage(seg: DataFrame): DataFrame =
    seg.select(col("n"), explode(split(col("pieces"), "/")).as("p"))
      .groupBy("p").agg(sum(col("n")).as("usage"))

  /** The pruned + re-estimated round-2 inventory: every single character
    * (add-one smoothed — chars a round-1 winner never used keep cnt 1) plus
    * the top [[KeepMulti]] multi-char pieces by (usage desc, piece asc);
    * cnt2 = usage + 1, the M-step re-estimate.
    */
  def prunedInventory(seedInv: DataFrame, use1: DataFrame): DataFrame = {
    val chars = seedInv.filter(length(col("p")) === 1).select(col("p"))
      .join(use1, Seq("p"), "left")
      .select(col("p"), (coalesce(col("usage"), lit(0L)) + 1).as("cnt"))
    val multi = use1.filter(length(col("p")) >= 2)
      .orderBy(col("usage").desc, col("p").asc).limit(KeepMulti)
      .select(col("p"), (col("usage") + 1).as("cnt"))
    chars.unionAll(multi)
  }

  /** The trained model: (round-2 inventory with bit-costs, round-2
    * Viterbi segmentation of every dictionary word). Persists its bounded
    * upstream frames; the caller's `clearCache` releases them.
    */
  def trainedModel(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val dict = BpeTrain.wordDict(spark, sfDir).persist()
    val seedInv = seed(dict).persist()
    val seg1 = segment(dict, costMap(withBitCosts(seedInv)))
    val cost2 = withBitCosts(prunedInventory(seedInv, usage(seg1))).persist()
    (cost2, segment(dict, costMap(cost2)))
  }
}
