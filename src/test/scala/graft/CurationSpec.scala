package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Curation
import graft.sources.Tables

/** Curation ops: the distributed implementations checked against local
  * sequential references, plus the scale properties the oracle hash can't
  * see (partition-count independence, no single-partition windows). */
class CurationSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSpark.session

  test("packSequences matches a sequential concat-and-chunk reference") {
    val docs = Tables.load(spark, dir, "documents")
    val got = Curation.packSequences(docs, budget = 512)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))

    // sequential reference: one pass over doc_id-ordered token counts
    val toks = docs
      .select(col("doc_id"), size(graft.queries.Q.tokens(col("text"))).as("n"))
      .orderBy(col("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    var cum = 0L
    val expect = toks.map { case (id, n) =>
      val pack = cum / 512
      cum += n
      (id, n, pack)
    }
    assert(got.toSeq == expect.toSeq)
  }

  test("packSequences is partition-count independent") {
    val docs = Tables.load(spark, dir, "documents")
    val a = Curation.packSequences(docs.repartition(1), budget = 777)
      .orderBy(col("doc_id")).collect().toSeq
    val b = Curation.packSequences(docs.repartition(7), budget = 777)
      .orderBy(col("doc_id")).collect().toSeq
    assert(a == b)
  }

  test("packSequences plans no single-partition global window") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = Curation.packSequences(docs, budget = 2048)
      .queryExecution.executedPlan.toString
    // a bare Window.orderBy would surface as SinglePartition exchange
    assert(!plan.contains("SinglePartition"),
      s"global-window single-partition exchange in plan:\n$plan")
  }

  test("sampleBucket is deterministic and approximately honors the rate") {
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count()
    val s1 = docs.filter(Curation.sampleBucket(col("doc_id"), 20))
    val s2 = docs.filter(Curation.sampleBucket(col("doc_id"), 20))
    val c = s1.count()
    assert(c == s2.count()) // same rows every evaluation
    assert(math.abs(c.toDouble / n - 0.2) < 0.1)
    // nested property: a 10% bucket is a subset of the 20% bucket
    val c10 = docs.filter(Curation.sampleBucket(col("doc_id"), 10))
      .filter(!Curation.sampleBucket(col("doc_id"), 20)).count()
    assert(c10 == 0)
  }

  test("maskIds masks every digit run of the minimum length") {
    import spark.implicits._
    val df = Seq(
      ("acct 123456789 and 555", "acct [ID] and 555"),
      ("id=000001 code=12345", "id=[ID] code=12345"),
      ("no digits", "no digits")
    ).toDF("raw", "want")
    val bad = df.select(Curation.maskIds(col("raw")).as("got"), col("want"))
      .filter(col("got") =!= col("want")).count()
    assert(bad == 0)
  }

  test("contamination broadcasts the benchmark side (corpus never shuffles to the join)") {
    val docs = Tables.load(spark, dir, "documents")
    val df = Curation.contamination(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("repetitionStats flags degenerate text") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a a a a a a a"), // one token repeated
      (2L, "w x y z q r s t") // all distinct
    ).toDF("doc_id", "text")
    val m = Curation.repetitionStats(df).collect()
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    assert(m(1L)._1 > 0.8 && m(1L)._2 == 1.0)
    assert(m(2L)._1 == 0.0 && m(2L)._2 == 0.125)
  }

  test("ngramRepetition: repeated trigram mass vs clean text; short docs " +
      "absent") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c d"), // "a b c" twice: dup mass 2*5=10 of 13 chars
      (2L, "w x y z q r s t"), // no repeated trigram
      (3L, "a b") // fewer than 3 tokens: no trigram distribution
    ).toDF("doc_id", "text")
    val m = Curation.ngramRepetition(df, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(!m.contains(3L))
    assert(m(1L)._1 == 10.0 / 13 && m(1L)._2 == 10.0 / 13, m(1L).toString)
    assert(m(2L)._1 == 0.0 && m(2L)._2 == 5.0 / 15, m(2L).toString)
  }

  test("splitAssign: total, disjoint, and stable under corpus growth") {
    val docs = Tables.load(spark, dir, "documents")
    val assigned = docs.select(col("doc_id"),
      Curation.splitAssign(col("doc_id")).as("split"))
    // total: every doc gets exactly one of the three labels
    val n = docs.count()
    assert(assigned.filter(col("split").isin("train", "val", "test"))
      .count() == n)
    // stable: the assignment of a doc does not depend on which other rows
    // are present (hash of the key only) — recompute on a half-corpus
    val half = docs.filter(col("doc_id") % 2 === 0)
    val again = half.select(col("doc_id"),
      Curation.splitAssign(col("doc_id")).as("split2"))
    val moved = assigned.join(again, "doc_id")
      .filter(col("split") =!= col("split2")).count()
    assert(moved == 0)
    // rough proportions at default 70/20/10
    val frac = assigned.filter(col("split") === "train").count().toDouble / n
    assert(frac > 0.6 && frac < 0.8, s"train fraction $frac")
  }

  test("chunkDocuments: every token covered, overlap correct, last chunk short") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 toks: 3 chunks
      (2L, "a b c"),                                  // shorter than size
      (3L, "")                                        // degenerate
    ).toDF("doc_id", "text")
    val ch = Curation.chunkDocuments(docs, size = 16, stride = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .sortBy(t => (t._1, t._2))
    val d1 = ch.filter(_._1 == 1L)
    assert(d1.map(_._3).toList == List(1L, 9L, 17L)) // starts every stride
    assert(d1.map(_._4).toList == List(16L, 12L, 4L)) // last chunks short
    assert(d1.head._5.startsWith("t1 t2 ") && d1.last._5 == "t17 t18 t19 t20")
    // coverage: token t10 appears in chunks starting at 1 and 9 (overlap)
    assert(d1.count(_._5.split(" ").contains("t10")) == 2)
    assert(ch.filter(_._1 == 2L).toList == List((2L, 1L, 1L, 3L, "a b c")))
    assert(ch.filter(_._1 == 3L).length == 1) // one degenerate empty chunk
  }

  test("redactPii scrubs emails/phones/IPs and leaves clean text alone") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jo.doe+x@sub.example.org or +44-123-4567 ok"),
      (2L, "server 10.0.255.3 rebooted"),
      (3L, "nothing sensitive here")
    ).toDF("id", "t")
    val r = df.select(col("id"), Curation.redactPii(col("t")).as("r"),
        Curation.piiCount(col("t"), Curation.emailRe).as("ne"),
        Curation.piiCount(col("t"), Curation.phoneRe).as("np"),
        Curation.piiCount(col("t"), Curation.ipv4Re).as("ni"))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2),
        x.getLong(3), x.getLong(4))).sortBy(_._1)
    assert(r(0)._2 == "reach me at [EMAIL] or [PHONE] ok")
    assert((r(0)._3, r(0)._4, r(0)._5) == ((1L, 1L, 0L)))
    assert(r(1)._2 == "server [IP] rebooted" && r(1)._5 == 1L)
    assert(r(2)._2 == "nothing sensitive here"
      && (r(2)._3, r(2)._4, r(2)._5) == ((0L, 0L, 0L)))
  }

  test("bloomContamination equals exact contamination (no false negatives)") {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "src0")
    val exact = Curation.contamination(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val bloom = Curation.bloomContamination(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(exact.nonEmpty, "fixture should produce contaminated docs")
    assert(bloom.toList == exact.toList)
  }

  test("filterFunnel: cumulative conjunction semantics, one row per stage") {
    import spark.implicits._
    val df = Seq(
      (1L, 10, "en"), (2L, 5, "en"), (3L, 10, "zh"), (4L, 10, "en"))
      .toDF("id", "len", "lang")
    val out = Curation.filterFunnel(df, Seq(
        "len" -> (col("len") >= 10),
        "lang" -> (col("lang") === "en")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, "len", 4L, 1L, 3L),
      (2L, "lang", 3L, 1L, 2L)))
  }

  test("rejectionAttribution: first failing stage wins; NULL predicate " +
      "rejects; survivors labeled kept") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(10), "en"),  // passes both -> kept
      (2L, Some(5), "zh"),   // fails len AND lang -> charged to len
      (3L, Some(10), "zh"),  // fails lang only
      (4L, None, "en"))      // len NULL -> rejected at len
      .toDF("id", "len", "lang")
    val out = Curation.rejectionAttribution(df, "id", Seq(
        "len" -> (col("len") >= 10),
        "lang" -> (col("lang") === "en")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 0L, "kept"), (2L, 1L, "len"), (3L, 2L, "lang"),
      (4L, 1L, "len")))
  }

  test("phraseSearch: adjacency and order required; overlapping hits " +
      "counted; short docs excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "hash join is fast"),        // match at 1
      (2L, "join hash"),                // wrong order
      (3L, "hash x join"),              // not adjacent
      (4L, "a hash join b hash join"),  // two hits, first at 2
      (5L, "a a a"),                    // overlapping self-phrase probe
      (6L, "hash"))                     // shorter than the phrase
      .toDF("doc_id", "text")
    val out = graft.ops.TextOps.phraseSearch(df, Seq("hash", "join"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, 1L), (4L, 2L, 2L)))
    val self = graft.ops.TextOps.phraseSearch(df, Seq("a", "a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(self.toSeq == Seq((5L, 2L, 1L)),
      "overlapping occurrences must each count")
  }

  test("bloomContamination: empty benchmark side returns an explicit " +
      "empty frame (not null-propagation luck)") {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("source") =!= "src0")
    val bench = docs.filter(col("source") === "__no_such_source__")
    val out = Curation.bloomContamination(corpus, bench)
    assert(out.columns.toSeq == Seq("doc_id", "n_shared"))
    assert(out.count() == 0)
  }

  test("tfIdfTopK: rare term outranks common term at equal tf") {
    import spark.implicits._
    // 'rare' appears in 1 doc; every other token appears in all 4 docs
    val df = Seq(
      (1L, "rare common extra"),
      (2L, "common extra pad"),
      (3L, "common extra pad"),
      (4L, "common extra pad")
    ).toDF("doc_id", "text")
    val top = graft.ops.TextOps.tfIdfTopK(df, k = 1)
      .filter(col("doc_id") === 1L).collect()
    assert(top.length == 1 && top(0).getAs[String]("tok") == "rare")
  }

  test("bm25TopK: idf weights rare terms up, length norm weights long docs down") {
    import spark.implicits._
    // docs 1 and 2 both hit 'rare' once, but doc 2 is much longer →
    // length normalization ranks doc 1 first; doc 3 hits only the
    // ubiquitous 'common' → lowest idf, last place; doc 4 matches nothing.
    val df = Seq(
      (1L, "rare common x"),
      (2L, "rare common a b c d e f g h i j k l m n o p"),
      (3L, "common y z"),
      (4L, "nothing to see")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.bm25TopK(df, Seq("rare", "common"), k = 10)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_hit"))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_._3).toSeq == Seq(2L, 2L, 1L))
  }

  test("boilerplateStrip removes exactly the cross-doc repeated segments") {
    import spark.implicits._
    // banner "buy now" repeats in 4 docs (df=4 >= 3); all other segments
    // are unique to their doc
    val df = (1 to 4).map(i => (i.toLong, s"buy now unique$i text$i")) :+
      (5L, "only one doc here")
    val got = Curation.boilerplateStrip(df.toDF("doc_id", "text"),
        segSize = 2, minDf = 3)
      .orderBy(col("doc_id")).collect()
    assert(got.length == 5)
    (0 until 4).foreach { i =>
      val r = got(i)
      assert(r.getLong(1) == 2 && r.getLong(2) == 1, s"row $r")
      assert(r.getString(3) == s"unique${i + 1} text${i + 1}")
    }
    // untouched doc keeps its text verbatim (odd token count: short tail)
    assert(got(4).getLong(2) == 0 &&
      got(4).getString(3) == "only one doc here")
  }

  test("boilerplateStrip yields '' when a whole document is boilerplate") {
    import spark.implicits._
    val df = (1 to 3).map(i => (i.toLong, "same exact text")).toDF(
      "doc_id", "text")
    val got = Curation.boilerplateStrip(df, segSize = 2, minDf = 3)
      .orderBy(col("doc_id")).collect()
    assert(got.forall(r => r.getString(3) == "" && r.getLong(2) == 2))
  }

  test("trainingShards: deterministic, seed-sensitive, dense positions") {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val a = Curation.trainingShards(docs, col("doc_id"), 8, "42")
      .orderBy(col("shard"), col("shard_pos")).collect().toSeq
    val b = Curation.trainingShards(docs.repartition(7), col("doc_id"),
        8, "42")
      .orderBy(col("shard"), col("shard_pos")).collect().toSeq
    assert(a == b, "shard assignment must be partitioning-independent")
    val c = Curation.trainingShards(docs, col("doc_id"), 8, "43")
      .orderBy(col("shard"), col("shard_pos")).collect().toSeq
    assert(a != c, "changing the seed must reshuffle")
    // every shard's positions are 1..n with no gaps
    a.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps == (1L to ps.length).toSeq)
    }
    // all rows present exactly once
    assert(a.map(_.getLong(0)).sorted ==
      docs.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("temperatureMixture: alpha=1 reproduces natural shares, alpha<1 " +
      "flattens toward rare strata") {
    import spark.implicits._
    val df = (Seq.fill(90)(("big", 10L)) ++ Seq.fill(10)(("small", 10L)))
      .toDF("src", "n")
    val nat = Curation.temperatureMixture(df, col("src"), col("n"),
        alpha = 1.0, budget = 1000L)
      .orderBy(col("stratum")).collect()
    assert(math.abs(nat(0).getDouble(3) - 0.9) < 1e-6) // big keeps 90%
    // every rate at alpha=1 is budget/total (uniform over tokens)
    nat.foreach(r => assert(math.abs(r.getDouble(4) - 1.0) < 1e-6))
    val flat = Curation.temperatureMixture(df, col("src"), col("n"),
        alpha = 0.5, budget = 1000L)
      .orderBy(col("stratum")).collect()
    val smallShareNat = nat(1).getDouble(3)
    val smallShareFlat = flat(1).getDouble(3)
    assert(smallShareFlat > smallShareNat,
      s"alpha<1 must upweight the rare stratum: $smallShareFlat vs $smallShareNat")
    // shares always sum to 1 (exact-integer denominator)
    assert(math.abs(flat.map(_.getDouble(3)).sum - 1.0) < 1e-12)
  }

  test("weightedSample is partition-independent and weight-biased") {
    import spark.implicits._
    val pop = (1L to 2000L).map(i => (i, if (i <= 100) 5000L else 50L))
      .toDF("id", "w")
    val a = Curation.weightedSample(pop, col("id"), col("w"), k = 50)
      .collect().map(_.getLong(0)).sorted
    val b = Curation.weightedSample(pop.repartition(17), col("id"),
        col("w"), k = 50)
      .collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "sample changed with partitioning")
    // 5% of ids carry ~91% of the weight: they must dominate the sample
    val heavyPicked = a.count(_ <= 100)
    assert(heavyPicked > 25,
      s"weighting too weak: $heavyPicked/50 from the heavy 5%")
  }

  test("charEntropy matches the closed form on constructed docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaaaaaa"),          // 0 bits
      (2L, "abababab"),          // 1 bit
      (3L, "abcdabcd"),          // 2 bits
      (4L, "aab")                // (3·log2 3 − 2)/3
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.charEntropy(docs)
      .orderBy(col("doc_id")).collect()
    val expect = Seq(0.0, 1.0, 2.0,
      math.log(3) / math.log(2) - 2.0 / 3.0)
    got.zip(expect).foreach { case (r, e) =>
      assert(math.abs(r.getDouble(3) - e) < 1e-5,
        s"doc ${r.getLong(0)}: ${r.getDouble(3)} vs $e")
    }
    assert(got.map(_.getLong(1)).toSeq == Seq(8L, 8L, 8L, 3L))
    assert(got.map(_.getLong(2)).toSeq == Seq(1L, 2L, 4L, 2L))
  }

  test("charEntropy counts code points and excludes empty/null docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "😀😀😀😀"), // 😀×4: 4 code points (8 UTF-16 units), 0 bits
      (2L, "😀a😀a"),                       // 2 symbols → 1 bit, n=4
      (3L, ""),                                                 // excluded: entropy undefined
      (4L, null.asInstanceOf[String])                           // excluded
    ).toDF("doc_id", "text")
    val got = graft.ops.TextOps.charEntropy(docs)
      .orderBy(col("doc_id")).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got.map(_.getLong(1)).toSeq == Seq(4L, 4L),
      "astral chars must count once (code points), not twice (UTF-16 units)")
    assert(got.map(_.getLong(2)).toSeq == Seq(1L, 2L))
    assert(math.abs(got(0).getDouble(3) - 0.0) < 1e-9)
    assert(math.abs(got(1).getDouble(3) - 1.0) < 1e-9)
  }

  test("weightedSample excludes non-positive weights") {
    import spark.implicits._
    // w=0 would rank -Infinity (never sampled, silently); w<0 would flip
    // the rank sign (always sampled) — both must be excluded, not ranked
    val pop = Seq((1L, 5L), (2L, 0L), (3L, -7L), (4L, 3L)).toDF("id", "w")
    val got = Curation.weightedSample(pop, col("id"), col("w"), k = 10)
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 4L)),
      s"expected only positive-weight ids, got ${got.mkString(",")}")
  }

  test("setSimJoin finds exactly the brute-force pairs at tau") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),     // J(1,2)=4/6
      (3L, "alpha beta gamma delta epsilon"),  // J(1,3)=1
      (4L, "one two three four five six"),
      (5L, "totally different tokens here")
    ).toDF("doc_id", "text")
    val got = graft.ops.DedupOps.setSimJoin(docs, tauNum = 3L, tauDen = 5L)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      s"pairs: $got")
  }

  test("setSimJoin equals brute force on seeded random corpora at " +
      "several taus (symmetric-prefix completeness)") {
    // guards the prefix-length math: the symmetric (PPJoin-style)
    // prefix join is complete only with the n−⌈τn⌉+2 prefix; an
    // off-by-one would drop exactly the boundary-overlap pairs, which
    // random corpora with heavy overlap are built to contain
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'z').map(_.toString)
    val docs = (1L to 120L).map { id =>
      val base = rnd.shuffle(vocab).take(6 + rnd.nextInt(10))
      // half the docs are mutations of an earlier doc → many pairs near τ
      val toks = if (id > 60 && rnd.nextBoolean()) {
        val parent = rnd.shuffle(vocab).take(8)
        parent.drop(rnd.nextInt(3)) ++ base.take(rnd.nextInt(3))
      } else base
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = docs.select(col("doc_id"),
      array_distinct(split(trim(col("text")), "\\s+")).as("tk"))
    for ((tn, td) <- Seq((1L, 2L), (3L, 5L), (4L, 5L), (9L, 10L))) {
      val fast = graft.ops.DedupOps.setSimJoinSets(sets, tn, td)
        .select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val lists = docs.collect().map(r =>
        r.getLong(0) -> r.getString(1).trim.split("\\s+").distinct.toSet)
      val brute = (for {
        (ida, sa) <- lists; (idb, sb) <- lists if ida < idb
        inter = (sa & sb).size
        if td * inter >= tn * (sa.size + sb.size - inter)
      } yield (ida, idb)).sorted.toSeq
      assert(fast == brute,
        s"τ=$tn/$td: fast ${fast.size} pairs vs brute ${brute.size}; " +
          s"missing=${brute.diff(fast).take(5)} extra=${fast.diff(brute).take(5)}")
    }
  }

  test("hashedClassifierScore matches a local recompute incl. 1-token docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "single"),                    // 1 token → no bigrams, not garbage
      (3L, "  padded   whitespace  "),   // trim + multi-space split
      (4L, null.asInstanceOf[String])    // null text → no rows
    ).toDF("doc_id", "text")
    val w = graft.ops.TextOps.demoClassifierWeights(spark, 64)
    val got = graft.ops.TextOps.hashedClassifierScore(docs, w, dBuckets = 64)
      .orderBy(col("doc_id")).collect()
    // local recompute with the same md5-derived hash and weights
    val weights = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val expected = Seq(1L -> "the quick brown fox", 2L -> "single",
        3L -> "  padded   whitespace  ")
      .map { case (id, text) =>
        val t = text.trim.split("\\s+").toSeq
        val feats = t ++ t.zip(t.drop(1)).map { case (a, b) => s"$a $b" }
        val milli = feats.map(f => weights(h32(s"f#$f") % 64)).sum
        (id, feats.size.toLong, milli)
      }
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == expected)
    got.foreach { r =>
      assert(r.getDouble(3) == r.getLong(2).toDouble / (r.getLong(1) * 1000.0))
      assert(r.getBoolean(4) == (r.getDouble(3) > 0))
    }
  }
}
