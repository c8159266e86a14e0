package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-11 contracts: the batched BPE trainer's two equivalences —
  * batchM = 1 degenerates to the one-at-a-time trainer (the VERDICT r9
  * next #6 acceptance bar), and the distributed simultaneous-application
  * fold matches a driver-side reference on adversarial words where
  * batching could interact (shared-token pairs, (a,a) runs, pairs whose
  * merged output equals another pool pair's token — the cascade hazard).
  */
class Round11Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-round11-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // the adversarial corpus: overlapping runs (aaaa), alternations
  // (ababab), disjoint high-frequency pairs (cc/dd families), and words
  // where one pair's merged output ("ab") equals a SUBSTRING another
  // round could target — exactly where simultaneous-vs-cascading
  // application and batch selection could diverge
  private val advTexts = Seq(
    "aaaa ab abab ababab ba aaa aa cc dd ccdd",
    "aaaa abab cc ccc cccc dd ddd dddd aaaa",
    "ab ba ab aaaa bb cd cd cd dc ccdd ccdd")

  /** Driver-side reference of the batched trainer: per round — pair
    * counts, (cnt desc, a, b) rank, top-poolK pool, accept iff no token
    * shared with ANY higher-ranked pool pair, first batchM accepted,
    * simultaneous application against the pre-round sequence (match
    * flags from the original toks; a merged position consumes its right
    * neighbor).
    */
  private def referenceBatched(texts: Seq[String], rounds: Int, batchM: Int,
      poolK: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var vocab: Map[String, (Long, Vector[String])] = texts
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity)
      .map { case (w, ws) => w -> (ws.size.toLong, w.map(_.toString).toVector) }
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    for (r <- 1 to rounds) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.values.foreach { case (f, toks) =>
        toks.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1)); pairs(k) = pairs.getOrElse(k, 0L) + f
        }
      }
      if (pairs.nonEmpty) {
        val pool = pairs.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }
          .take(poolK)
        val accepted = pool.zipWithIndex.filter { case (((a, b), _), i) =>
          !pool.take(i).exists { case ((c, d), _) =>
            c == a || c == b || d == a || d == b }
        }.map(_._1).take(batchM)
        accepted.zipWithIndex.foreach { case (((a, b), cnt), j) =>
          rules += ((r.toLong, (j + 1).toLong, a, b, a + b, cnt))
        }
        val accSet = accepted.map(_._1).toSet
        vocab = vocab.map { case (w, (f, toks)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.size) {
            if (i + 1 < toks.size && accSet.contains((toks(i), toks(i + 1)))) {
              out += toks(i) + toks(i + 1); i += 2
            } else { out += toks(i); i += 1 }
          }
          w -> (f, out.toVector)
        }
      }
    }
    rules.toSeq
  }

  private def docsDf = {
    import spark.implicits._
    advTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("bpeTrainBatched with batchM = 1 is the one-at-a-time trainer") {
    val batched = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.wordUnits(docsDf),
        rounds = 4, batchM = 1, poolK = 12)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    val single = graft.analytics.TextAnalysis.bpeTrain(docsDf, rounds = 4)
      .orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(batched.toSeq === single.toSeq,
      "batchM = 1 must degenerate to the plain top-1 trainer")
  }

  test("bpeTrainBatched matches the driver reference on adversarial batched rounds") {
    val got = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.wordUnits(docsDf),
        rounds = 3, batchM = 3, poolK = 12)
      .orderBy("round", "sel_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5)))
    val want = referenceBatched(advTexts, rounds = 3, batchM = 3, poolK = 12)
    assert(got.toSeq === want,
      "distributed batched trainer diverged from the sequential reference")
    // the batch must actually batch: at least one round accepts >1 merge,
    // else the adversarial corpus stopped exercising the rule
    assert(want.groupBy(_._1).values.exists(_.size > 1),
      "no round accepted more than one merge — corpus no longer adversarial")
  }

  test("deep batched training: 12 rounds x M=8 accumulate a real merge table on corpus data") {
    import org.apache.spark.sql.functions._
    // the tractability claim made concrete: the batched trainer sustains
    // MANY merges per round on the real documents table — 12 rounds at
    // M=8 is up to 96 merges (a 32k vocab at M=256 is ~125 rounds of the
    // same per-round plan). Assert the batch actually multiplies merges
    // (more than one per round on average), rules stay round-disjoint,
    // and counts are monotone non-increasing WITHIN a round (the rank
    // rule accepts in frequency order).
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rules = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.wordUnits(docs),
        rounds = 12, batchM = 8, poolK = 32)
      .orderBy("round", "sel_rank").collect()
    assert(rules.length > 24,
      s"only ${rules.length} merges over 12 rounds — batching is not batching")
    rules.groupBy(_.getLong(0)).foreach { case (r, rs) =>
      val cnts = rs.sortBy(_.getLong(1)).map(_.getLong(5))
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
        s"round $r accepted pairs out of frequency order: ${cnts.mkString(",")}")
    }
  }

  test("graph add: newly inserted vectors are REACHABLE in the served results") {
    import org.apache.spark.sql.functions._
    // the reverse delta edges are what makes a fresh vector servable —
    // if they were dropped, the merged walk could only ever return
    // history nodes and the "add" would be write-only
    val res = SparkEntry.queries("sim_graph_persisted_add")(
      spark, "/root/testdata/sf0.01")
    val newServed = res.where(pmod(col("neighbor_id"), lit(10L)) === 0).count()
    assert(newServed > 0L,
      "no newly added vector appears in any probe top-k — reverse edges lost")
  }

  test("batched rounds reject interacting pairs: accepted pairs are token-disjoint") {
    val got = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.wordUnits(docsDf),
        rounds = 3, batchM = 3, poolK = 12)
      .collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3)))
    got.groupBy(_._1).foreach { case (round, rs) =>
      // disjointness is ACROSS pairs — a doubling pair (a,a) legitimately
      // repeats its own token; no token may appear in two different pairs
      val tokSets = rs.map(r => Set(r._2, r._3)).toSeq
      tokSets.combinations(2).foreach { pair =>
        assert((pair(0) & pair(1)).isEmpty,
          s"round $round accepted pairs sharing a token: ${rs.mkString(", ")}")
      }
    }
  }
}
