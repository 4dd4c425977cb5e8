package graft

import org.apache.spark.sql.functions._

import graft.operators.JaccardJoin

class JaccardJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Random corpus with PLANTED near-duplicates: every third doc gets a
    * mutated copy (suffix pad / token tweak) so pairs genuinely land on
    * both sides of the Jaccard threshold.
    */
  private def randomCorpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = (0 until 30).map(i => s"w$i")
    val originals = (0 until n).map { i =>
      val len = 8 + rnd.nextInt(10)
      val toks = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "))
    }
    val dups = originals.filter(_._1 % 3 == 0).map { case (id, text) =>
      val pad = Seq.fill(1 + rnd.nextInt(4))(vocab(rnd.nextInt(vocab.size)))
      (id + 1000L, text + " " + pad.mkString(" "))
    }
    originals ++ dups
  }

  /** Driver-side oracle: exact 3-shingle Jaccard over all pairs,
    * replicating TextFns normalization (lower, whitespace split).
    */
  private def naivePairs(corpus: Seq[(Long, String)], t: Double): Set[(Long, Long)] = {
    def shingles(text: String): Set[String] = {
      val toks = text.toLowerCase.trim.split("\\s+").toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = corpus.map { case (id, text) => id -> shingles(text) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (a, b)).toSet
  }

  test("PPJoin prefix filtering is lossless vs the naive all-pairs oracle") {
    for (seed <- Seq(5, 23)) {
      val corpus = randomCorpus(seed, 40)
      val t = 0.5
      val got = JaccardJoin.selfPairs(corpus.toDF("doc_id", "text"), "doc_id", "text", t)._1
        .withColumn("j", col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")))
        .filter(col("j") >= t)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val want = naivePairs(corpus, t)
      assert(want.nonEmpty, s"seed=$seed: vacuous fixture")
      assert(got == want, s"seed=$seed missing=${want -- got} extra=${got -- want}")
    }
  }

  test("BroadcastDocs and ShuffleDocs verify strategies return identical rows") {
    val corpus = randomCorpus(99, 40).toDF("doc_id", "text")
    def rows(v: JaccardJoin.VerifyStrategy) =
      JaccardJoin.selfPairs(corpus, "doc_id", "text", t = 0.5, verify = v)._1
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val b = rows(JaccardJoin.BroadcastDocs)
    val s = rows(JaccardJoin.ShuffleDocs)
    assert(b == s)
    assert(b.nonEmpty) // planted vocabulary guarantees collisions
  }

  test("Auto resolves by corpus size; both resolutions match the explicit strategies") {
    val corpus = randomCorpus(7, 40).toDF("doc_id", "text")
    def rows(v: JaccardJoin.VerifyStrategy) =
      JaccardJoin.selfPairs(corpus, "doc_id", "text", t = 0.5, verify = v)._1
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val viaBroadcast = rows(JaccardJoin.Auto(threshold = 1000000L)) // n <= gate
    val viaShuffle = rows(JaccardJoin.Auto(threshold = 1L))         // n > gate
    assert(viaBroadcast == viaShuffle)
    assert(viaBroadcast == rows(JaccardJoin.BroadcastDocs))
    assert(viaBroadcast.nonEmpty)
  }

  test("crossPairs is lossless for probe×ref and emits NO same-side pairs") {
    for (seed <- Seq(7, 31)) {
      val all = randomCorpus(seed, 40)
      // split: originals are the ref corpus, padded dups the new batch
      val ref = all.filter(_._1 < 1000L)
      val prb = all.filter(_._1 >= 1000L)
      val t = 0.5
      val got = JaccardJoin.crossPairs(
          prb.toDF("doc_id", "text"), ref.toDF("doc_id", "text"),
          "doc_id", "text", t)
        .withColumn("j", col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")))
        .filter(col("j") >= t)
        .select("a", "b").as[(Long, Long)].collect().toSet
      // oracle: all-pairs over the union, kept only when sides differ
      // (naivePairs orders a < b, so ref id is a and probe id is b)
      val want = naivePairs(all, t)
        .collect { case (a, b) if a < 1000L && b >= 1000L => (b, a) }
      assert(want.nonEmpty, s"seed=$seed: vacuous fixture")
      assert(got == want, s"seed=$seed missing=${want -- got} extra=${got -- want}")
      // asymmetry: every output row is (probe, ref) by construction
      assert(got.forall { case (a, b) => a >= 1000L && b < 1000L })
    }
  }

  test("epoch extension: a verified delta folds into the snapshot under " +
    "the FROZEN shingle order, and the next delta catches " +
    "cross-generation near-dups losslessly") {
    val t = 0.5
    val gen0 = randomCorpus(11, 30).filter(_._1 < 1000L)
    // delta1: one brand-new doc (vocabulary the epoch has never seen —
    // its shingles all land in the frozen order's df-0 stratum) plus a
    // near-dup of a gen0 doc
    val novel = "zeta yotta kappa lambda mu nu xi omicron pi rho"
    val delta1 = Seq((5000L, novel), (5001L, gen0.head._2 + " w0"))
    // delta2: a near-dup of the DELTA1-ONLY doc (only catchable if the
    // extension really indexed delta1) plus a near-dup of gen0
    val delta2 = Seq((6000L, novel + " extra"),
      (6001L, gen0(3)._2 + " w1"))
    def pairsOf(out: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = out
      .withColumn("j",
        col("common") * lit(1.0) / (col("sza") + col("szb") - col("common")))
      .filter(col("j") >= t)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // asymmetric oracle: probe × ref only
    def naiveCross(prb: Seq[(Long, String)],
                   ref: Seq[(Long, String)]): Set[(Long, Long)] =
      naivePairs(prb ++ ref, t).collect {
        case (a, b) if prb.exists(_._1 == b) && ref.exists(_._1 == a) => (b, a)
        case (a, b) if prb.exists(_._1 == a) && ref.exists(_._1 == b) => (a, b)
      }
    val epoch = SparkHygiene.scratchDir("epoch_ext")
    // delta1's run BUILDS the snapshot (gen0 only), then folds in
    val (out1, _) = JaccardJoin.crossPairsAdaptive(
      delta1.toDF("doc_id", "text"), gen0.toDF("doc_id", "text"),
      "doc_id", "text", t, epochIndexDir = Some(epoch))
    assert(pairsOf(out1) == naiveCross(delta1, gen0))
    JaccardJoin.extendEpochIndex(delta1.toDF("doc_id", "text"),
      "doc_id", "text", t, epoch)
    // delta2 runs against the EXTENDED snapshot (ref arg is unused when
    // the snapshot exists — pass gen0 to prove it: 6000's only match
    // lives in delta1)
    val (out2, _) = JaccardJoin.crossPairsAdaptive(
      delta2.toDF("doc_id", "text"), gen0.toDF("doc_id", "text"),
      "doc_id", "text", t, epochIndexDir = Some(epoch))
    val got = pairsOf(out2)
    assert(got.contains((6000L, 5000L)),
      "the cross-generation (delta2 × delta1) near-dup must surface")
    assert(got == naiveCross(delta2, gen0 ++ delta1),
      s"lossless vs the naive cross oracle: $got")
  }
}
