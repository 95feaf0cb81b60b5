package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "The quick brown fox jumps over the lazy dog!", "en", "s1"), // exact dup of 0 after normalize
    (2L, "the quick brown fox jumps over the lazy cat today", "en", "s2"), // near dup
    (3L, "completely different content about spark engines", "en", "s3"),
    (4L, "", "en", "s4")
  ).toDF("doc_id", "text", "lang", "source")

  test("dup spans: maximal corpus-duplicated runs, vs brute-force reference") {
    // two docs share a long run (cross-doc dup), one doc repeats a run
    // internally (within-doc dup), one doc is unique, one is empty
    val spanDocs = Seq(
      (0L, "shared boilerplate licence text here then unique alpha tail"),
      (1L, "shared boilerplate licence text here then unique bravo end"),
      (2L, "entirely singular content nothing repeated anywhere else"),
      (3L, "repeat me twice okay repeat me twice okay"),
      (4L, "")
    ).toDF("doc_id", "text")
    val n = 10
    val got = Dedup.dupSpans(spanDocs, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // brute-force reference: a position is duplicated iff its n-char
    // window occurs > 1 times corpus-wide; islands merge greedily
    val norm = Seq(
      0L -> "shared boilerplate licence text here then unique alpha tail",
      1L -> "shared boilerplate licence text here then unique bravo end",
      2L -> "entirely singular content nothing repeated anywhere else",
      3L -> "repeat me twice okay repeat me twice okay",
      4L -> "")
    val allGrams = norm.flatMap { case (_, t) =>
      (0 to t.length - n).map(i => t.substring(i, i + n)) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val expect = norm.flatMap { case (id, t) =>
      val dupPos = (0 to t.length - n).filter(i => allGrams(t.substring(i, i + n)) > 1)
      dupPos.foldLeft(List.empty[(Long, Long, Long, Long)]) {
        case ((d, s, e, g) :: rest, p) if p + 1 + n - 1 <= e + 1 =>
          (d, s, math.max(e, p + n).toLong, g + 1) :: rest
        case (acc, p) => (id, p + 1L, p + n.toLong, 1L) :: acc
      }
    }.toSet
    assert(got == expect, s"got=$got expect=$expect")
    // sanity on the scenario itself: docs 0/1 have exactly one span over
    // the shared prefix, doc 2 none, doc 3's repeats are found
    assert(got.count(_._1 == 0L) == 1 && got.count(_._1 == 1L) == 1)
    assert(!got.exists(_._1 == 2L) && got.exists(_._1 == 3L))
  }

  test("substring removal: cuts exactly the span union, clamps overlaps") {
    // docs 0/1 share a long prefix (cross-doc dup); doc 2 is untouched;
    // doc 3 has two position-islands THREE positions apart — its prefix
    // duplicated by doc 4 and its window at position 3 duplicated by
    // doc 5 — whose char spans (1,10) and (4,13) OVERLAP, so the
    // excision must clamp, cutting the union once (not double-cutting
    // or going negative)
    val n = 10
    val docs = Seq(
      (0L, "shared boilerplate licence text goes here alpha unique tail"),
      (1L, "shared boilerplate licence text goes here bravo other close"),
      (2L, "totally singular content without any repetition at all"),
      (3L, "abcdefghijklmnopqrstuvwx"),
      (4L, "abcdefghij"),
      (5L, "defghijklm")
    ).toDF("doc_id", "text")
    val got = Dedup.substringRemoved(docs, n)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    // brute-force reference: chars covered by any >1-occurrence n-window
    val norm = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = norm.values.flatMap(t =>
      (0 to t.length - n).map(i => t.substring(i, i + n)))
      .groupBy(identity).view.mapValues(_.size).toMap
    for ((id, t) <- norm) {
      val cut = Array.fill(t.length)(false)
      for (i <- 0 to t.length - n if counts(t.substring(i, i + n)) > 1;
           j <- i until i + n) cut(j) = true
      val kept = t.zipWithIndex.collect { case (c, i) if !cut(i) => c }.mkString
      assert(got(id)._1 == kept, s"doc $id")
      assert(got(id)._2 == cut.count(identity).toLong, s"doc $id removed")
    }
    assert(got(2L) == ((norm(2L), 0L, 0L))) // untouched passes through
    // the overlap really happened: two spans whose widths sum to 20 but
    // whose union is 13 chars — clamp exercised, no double-cut
    assert(got(3L) == (("nopqrstuvwx", 13L, 2L)))
    val spans3 = Dedup.dupSpans(docs, n).filter($"doc_id" === 3L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans3 == Set((1L, 10L), (4L, 13L)))
    assert(got(4L)._1 == "" && got(5L)._1 == "") // fully-duplicated docs empty
  }

  test("paragraph dedup: global keep-first, in-order reassembly, counts") {
    val paraDocs = Seq(
      (0L, "alpha one\n\nshared block"),
      (1L, "shared block\n\nbravo two"), // shared block first-occurred in doc 0
      (2L, "shared block"),              // fully boilerplate → emptied
      (3L, "delta four\n\ndelta four")   // within-doc dup: second dropped
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(paraDocs)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("alpha one\n\nshared block", 2L, 0L)))
    assert(got(1L) == (("bravo two", 1L, 1L)))
    assert(got(2L) == (("", 0L, 1L)))
    assert(got(3L) == (("delta four", 1L, 1L)))
  }

  test("dedup funnel: per-tier survivor counts over composed tiers") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val funnel = Seq(
      (1L, base),                          // near-dup pair with 2
      (2L, base + " lambda"),
      (3L, "same content here exactly"),   // byte-identical pair with 4
      (4L, "same content here exactly"),
      (5L, "completely different unique text")
    ).toDF("doc_id", "text")
    val got = Dedup.dedupFunnelReport(funnel, 3, 0.8)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("raw" -> 5L, "exact" -> 4L, "near_dup_reps" -> 3L), got)
  }

  test("family stats: per-source dup and cross-source mirror counts") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      // family {1,2}: near-dups WITHIN srcA
      (1L, base, "srcA"),
      (2L, base + " lambda", "srcA"),
      // family {3,4}: byte-identical MIRROR across srcA/srcB
      (3L, "same content here exactly repeated tokens", "srcA"),
      (4L, "same content here exactly repeated tokens", "srcB"),
      // singletons, one per source
      (5L, "completely different unique text", "srcA"),
      (6L, "another entirely unrelated document body", "srcB")
    ).map { case (id, t, s) => (id, t, "en", s) }
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.familyStats(docs, Dedup.clusters(docs, 3, 0.8))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    // srcA: 4 docs in 3 families ({1,2}, {3,4}-part, {5}); 3 of them in
    // multi-doc families; only doc 3 sits in a cross-source family
    assert(got("srcA") == ((4L, 3L, 3L, 1L, 0.75)), got("srcA"))
    // srcB: 2 docs, 2 families; the mirror doc 4 is both dup and cross
    assert(got("srcB") == ((2L, 2L, 1L, 1L, 0.5)), got("srcB"))
    // mirrors make per-source family counts sum PAST the global count
    val global = Dedup.clusters(docs, 3, 0.8)
      .select($"cluster_id").distinct().count()
    assert(got.values.map(_._2).sum > global && global == 4L)
  }

  test("bounded levenshtein equals Spark's builtin on random strings") {
    import graft.functions.BoundedLevenshtein
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd é世" // small alphabet forces collisions; non-ASCII included
    def randStr(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val cases = Seq.tabulate(300) { i =>
      val base = randStr(rnd.nextInt(30))
      val other = if (i % 3 == 0) base // identical
        else if (i % 3 == 1) { // few random edits of base
          var s = base
          (0 until rnd.nextInt(4)).foreach { _ =>
            if (s.nonEmpty) s = s.updated(rnd.nextInt(s.length), alphabet(rnd.nextInt(alphabet.length)))
          }
          s
        } else randStr(rnd.nextInt(30)) // unrelated
      (base, other)
    }
    val df = cases.toDF("a", "b")
    for (k <- Seq(0, 1, 2, 5)) {
      val got = df.select(
          BoundedLevenshtein.column($"a", $"b", k).as("mine"),
          levenshtein($"a", $"b", k).as("builtin"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      got.zip(cases).foreach { case ((mine, builtin), (a, b)) =>
        assert(mine == builtin, s"k=$k a='$a' b='$b': $mine vs $builtin")
      }
    }
  }

  test("containment: directed quote-in-document detection, jaccard-invisible") {
    val quote = "to be or not to be that is the question"
    val container = ("long prose introduction with many original words " +
      s"then the famous line $quote and a long discussion afterwards " +
      "covering history context reception legacy and influence at length")
    val docs = Seq(
      (1L, quote),                 // fully contained in doc 2
      (2L, container),
      (3L, "unrelated treatise on celestial mechanics and orbital motion")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 3, 0.9)
      .select($"a", $"b", $"containment").as[(Long, Long, Double)]
      .collect().toSet
    // every 3-gram of the quote appears in the container -> C(1->2) = 1.0
    assert(got.contains((1L, 2L, 1.0)), got)
    // the reverse direction is nowhere near 0.9 (container has many
    // grams of its own), and jaccard would also be far below threshold
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L), got)
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), got)
    val jac = Dedup.jaccardPairs(docs, 3, 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "jaccard should NOT flag the quote pair")
  }

  test("containment boundary: exact-integer threshold·sz keeps the true pair") {
    // the round-9 advisory fix, pinned: with threshold = 0.9 and sz = 10
    // grams, IEEE 0.9·10 = 9.000000000000002, so a float ceil reads 10
    // and shrinks the pigeonhole slack m to 0 — the probe then tests ONLY
    // the rarest gram, and when that is the contained doc's unique gram
    // (df = 1 beats every shared gram's df = 2) the probe misses and the
    // TRUE pair at exactly containment = 0.9 vanishes. Integer ceil
    // ((num·sz + den−1) div den) keeps m = 1 and the pair survives.
    val ws = (1 to 12).map(i => s"w$i")
    val a = ws.mkString(" ") // 10 3-grams
    val b = (ws.take(11) :+ "zz").mkString(" ") // shares exactly 9 of them
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 3, 0.9)
      .select($"a", $"b", $"containment").as[(Long, Long, Double)]
      .collect().toSet
    assert(got == Set((1L, 2L, 0.9), (2L, 1L, 0.9)),
      s"boundary pair lost or drifted: $got")
  }

  test("jaccard boundary: exact-integer bounds keep the pair at jac = t") {
    // same IEEE hazard as containment, now pinned for jaccardPairsOver:
    // sza = 9 ⊂ szb = 10 grams → jac = 9/10 = threshold exactly. The old
    // float length filter required min >= 0.9·10 = 9.000000000000002 and
    // dropped the pair; the float prefix ceil also shrank b's prefix to
    // its unique df=1 gram so no candidate ever formed. Rational integer
    // bounds (den·min >= num·max etc.) keep it, and the position filter
    // passes exactly at equality ((pmatch+slack)·(num+den) = num·(sza+szb)).
    val ws = (1 to 12).map(i => s"w$i")
    val a = ws.take(11).mkString(" ") // 9 word 3-grams
    val b = ws.mkString(" ")          // 10 grams, superset of a's
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, 3, 0.9)
      .select($"a", $"b", $"jaccard_sim").as[(Long, Long, Double)]
      .collect().toSet
    assert(got == Set((1L, 2L, 0.9)), s"boundary pair lost or drifted: $got")
  }

  /** Reference transitive closure (tiny fixtures only): min label per
    * component of the given undirected edge set.
    */
  private def closureLabels(nodes: Seq[Long],
                            edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("semanticClusters = closure of semanticPairs; exact-bag collapse preserves it") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base.split(' ').reverse.mkString(" ")), // bag-identical shuffle
      (7L, base.split(' ').sorted.mkString(" ")), // another shuffle
      (3L, base + " lambda"), // near-dup (cosine just below 1)
      (4L, "totally different words about ships and harbors and tides"),
      (5L, "totally different words about ships and harbors and tides"),
      (6L, "!!!") // all tokens may hash-cancel; must stay a singleton
    ).toDF("doc_id", "text")
    val pairs = Dedup.semanticPairs(docs, 4, 8, 16, 0.9)
      .select($"a", $"b").as[(Long, Long)].collect().toSeq
    // the fixture must exercise the interesting structure: a 3-clique of
    // bag-identical docs and an exact-duplicate pair
    assert(pairs.toSet.intersect(Set((1L, 2L), (1L, 7L), (2L, 7L))).size == 3,
      s"bag-identical clique not detected: $pairs")
    assert(pairs.contains((4L, 5L)), s"exact dup pair missing: $pairs")
    val want = closureLabels((1L to 7L).toSeq, pairs)
    val got = Dedup.semanticClusters(docs, 4, 8, 16, 0.9)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"clusters diverged from pair closure: $got vs $want")
    assert(got(6L) == 6L, "zero-embedding doc must stay a singleton")
  }

  test("editClusters = closure of editDistancePairs; identical-text collapse preserves it") {
    val boiler = ("terms of service apply to all users of this site " * 4).trim
    val docs = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler), // identical tier: C(3,2) pairs
      (4L, boiler + " x"), // 2 edits from the tier
      (5L, "an entirely unrelated document about mountain weather patterns"),
      (6L, "an entirely unrelated document about mountain weather patterns")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, 5, 0.8, 2)
      .select($"a", $"b").as[(Long, Long)].collect().toSeq
    assert(pairs.toSet.intersect(
      Set((1L, 2L), (1L, 3L), (2L, 3L))).size == 3 && pairs.contains((5L, 6L)),
      s"expected clique + dup pair in $pairs")
    val want = closureLabels((1L to 6L).toSeq, pairs)
    val got = Dedup.editClusters(docs, 5, 0.8, 2)
      .as[(Long, Long)].collect().toMap
    assert(got == want, s"clusters diverged from pair closure: $got vs $want")
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
  }

  test("edit-distance pairs: LSH-gated exact levenshtein verify") {
    val base = ("the quick brown fox jumps over the lazy dog " * 5).trim
    val docs = Seq(
      (1L, base),
      (2L, base + " x"),            // 2 edits from doc 1 (space + x)
      (3L, base + " abc"),          // near-dup by shingles, 4 edits
      (4L, "completely unrelated content about astronomy and telescopes")
    ).toDF("doc_id", "text")
    // the LSH gate must admit BOTH near-dups as candidates...
    val cand = Dedup.charLshPairs(docs, 5, 0.8)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)) && cand.contains((1L, 3L)), cand)
    // ...and the exact verify keeps only the few-edit pair
    val got = Dedup.editDistancePairs(docs, 5, 0.8, 2)
      .select($"a", $"b", $"edit_dist").as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 2L)), got)
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L), got)
    assert(got.forall(_._3 <= 2), got)
  }

  test("boilerplate removal: every copy above maxOcc dies, rare dups survive") {
    val paraDocs = Seq(
      (0L, "banner\n\nalpha one"),
      (1L, "banner\n\nbravo two"),
      (2L, "banner\n\nshared rare"),
      (3L, "shared rare\n\ncharlie three"),
      (4L, "banner")                      // all boilerplate → emptied
    ).toDF("doc_id", "text")
    // "banner" occurs 4x (> 2: all copies drop); "shared rare" occurs 2x
    // (<= 2: BOTH copies survive — contrast keep-first, which drops one)
    val got = Dedup.boilerplateRemoved(paraDocs, 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("alpha one", 1L, 1L)))
    assert(got(1L) == (("bravo two", 1L, 1L)))
    assert(got(2L) == (("shared rare", 1L, 1L)))
    assert(got(3L) == (("shared rare\n\ncharlie three", 2L, 0L)))
    assert(got(4L) == (("", 0L, 1L)))
  }

  test("injected paragraphs: 12-word chunks, header every 3rd, footer every 7th") {
    val src = Seq(
      (0L, Seq.fill(25)("w").zipWithIndex.map { case (w, i) => s"$w$i" }.mkString(" "), "en", "s"),
      (1L, "just a few words", "en", "s"),
      (7L, "another body here", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = Dedup.withInjectedParagraphs(src)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val p0 = got(0L).split("\n\n")
    assert(p0.head == Dedup.ParaHeader && got(0L).endsWith(Dedup.ParaFooter))
    // 25 words → chunks of 12/12/1, plus header+footer (doc 0 ≡ 0 mod 3 and 7)
    assert(p0.length == 5 && p0(1).split(" ").length == 12 && p0(3).split(" ").length == 1)
    assert(got(1L) == "just a few words") // 1 mod 3, 1 mod 7: untouched
    assert(got(7L) == "another body here\n\n" + Dedup.ParaFooter)
  }

  test("exact dedup groups case/punct variants; keeps min doc_id") {
    val groups = Dedup.exactGroups(docs).collect()
    assert(groups.length == 4) // {0,1} merge; 2,3,4 singletons
    val kept = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L, 4L))
  }

  test("jaccard pairs finds the near-dup pair and nothing else at 0.5") {
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical shingle sets, jaccard 1.0
    assert(pairs.contains((0L, 2L)) == pairs.contains((1L, 2L))) // symmetry via normalization
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("lsh pairs is a subset of exact jaccard pairs and catches identicals") {
    val exact = Dedup.jaccardPairs(docs, 3, 0.8).select("a", "b")
      .as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLshPairs(docs, 3, 0.8).select("a", "b")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 1L))) // jaccard 1.0 → identical sigs → always caught
  }

  test("char LSH estimate: identical normalized docs estimate 1.0") {
    val pairs = Dedup.charLshPairs(docs, n = 5, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0) // same normalized text → same signature
  }

  test("minhash signature: identical shingle sets → identical sigs; empty text → sentinel") {
    val sigs = Dedup.minhashSignaturesStr(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs.values.toSet.size == 4)
  }

  test("simhash: near-dups have small hamming distance, unrelated large") {
    val sh = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) == 0)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)))
  }

  private lazy val vecs = {
    // 3 clusters along axes + near-parallel pair (0,1)
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    Seq(
      (0L, v(1, 0, 0, 0), 0), (1L, v(0.99, 0.1, 0, 0), 0),
      (2L, v(0, 1, 0, 0), 1), (3L, v(0.1, 0.99, 0, 0), 1),
      (4L, v(0, 0, 1, 0), 2), (5L, v(0, 0, 0.99, 0.1), 2)
    ).toDF("vec_id", "embedding", "label")
  }

  test("brute-force top-k ranks the near-parallel vector first") {
    val top = Similarity.bruteForceTopK(vecs, qid = 0L, k = 3).collect()
    assert(top(0).getLong(0) == 1L)
    assert(top(0).getDouble(2) > 0.99)
  }

  test("ann top-k returns same-bucket neighbours ranked like brute force") {
    val ann = Similarity.annTopK(vecs, qid = 0L, k = 3, planes = 2, dims = 4)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, qid = 0L, k = 6)
      .select("vec_id").as[Long].collect().toSeq
    // ANN result order must respect brute-force order (it's a filtered subset)
    assert(ann == brute.filter(ann.contains))
  }

  test("range search equals the un-capped ANN chain filtered at the threshold") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val ranged = Similarity.rangeSearch(emb, 0L, 0.2, 4, 64)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toSet
    assert(ranged.nonEmpty && ranged.forall(_._2 >= 0.2))
    val viaTopK = Similarity.annTopK(emb, 0L, Int.MaxValue, 4, 64)
      .filter($"cos_sim" >= 0.2)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect().toSet
    assert(ranged == viaTopK)
  }

  test("clusters: transitive near-dups collapse to one min-labeled component") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val chain = Seq(
      (10L, base, "en", "s"),                       // 1 ── edge to 11 (identical)
      (11L, base.toUpperCase, "en", "s"),           // normalizes to base
      (12L, base + " kilo", "en", "s"),             // near-dup of 10/11 (j = 8/9)
      (30L, "totally unrelated words about engines and planners", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val labels = Dedup.clusters(chain, 3, 0.8)
      .as[(Long, Long)].collect().toMap
    // the {10, 11, 12} component must share the MIN label even though the
    // 11-12 and 10-12 edges arrive via different pairs (propagation, not
    // just pairwise); singleton labels itself
    assert(labels(10L) == 10L && labels(11L) == 10L && labels(12L) == 10L)
    assert(labels(30L) == 30L)
    // cluster labels are a fixpoint: relabeling again changes nothing
    assert(labels.size == 4)
    // reliable-checkpoint mode (the 100 TB fault-tolerance path: round
    // boundaries written to storage instead of executor-local blocks)
    // produces the identical labeling
    val dir = tempDir("graft_ckpt").toString
    val reliable = Dedup.clusters(chain, 3, 0.8, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == labels)
  }

  test("pointer-jump clusters: same fixpoint, O(log d) rounds on a chain") {
    // same labeling as the plain loop on an ordinary shallow graph
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val shallow = Seq(
      (10L, base, "en", "s"), (11L, base.toUpperCase, "en", "s"),
      (12L, base + " kilo", "en", "s"),
      (30L, "totally unrelated words about engines and planners", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    def labelsWithRounds(docs: org.apache.spark.sql.DataFrame) =
      Dedup.componentLabels(docs.select($"doc_id"),
        Dedup.minhashLshPairs(docs, 3, 0.8).select($"a", $"b"), "pj_spec")
    val plain = Dedup.clusters(shallow, 3, 0.8).as[(Long, Long)].collect().toMap
    val pj = labelsWithRounds(shallow)._1.as[(Long, Long)].collect().toMap
    assert(pj == plain)

    // a 24-doc double-linked chain (the chainedDocs construction on even
    // ids 0,2,…,46): one component labeled 0, found in ~log2(diameter)
    // rounds where plain propagation needs ~diameter
    val chainDocs = Dedup.chainedDocs(
      (0L until 48L by 2).map(i => (i, "placeholder", "en", "s"))
        .toDF("doc_id", "text", "lang", "source"))
    // fixture sanity: even docs really are token windows
    val t0 = chainDocs.filter($"doc_id" === 4L).collect()(0).getString(1)
    assert(t0.startsWith("tok4 tok5") && t0.split(" ").length == Dedup.ChainWindow)
    val (labelsDf, rounds) = labelsWithRounds(chainDocs)
    // the registered chain query is clusters over the same loop
    assert(Dedup.clusters(chainDocs, 3, 0.8).as[(Long, Long)].collect().toMap ==
      labelsDf.as[(Long, Long)].collect().toMap)
    val labels = labelsDf.as[(Long, Long)].collect().toMap
    assert(labels.size == 24 && labels.values.forall(_ == 0L),
      s"chain did not collapse: ${labels.toSeq.sorted}")
    // diameter is ~11 hops (±1/±2 edges over 24 nodes); the jump loop
    // must beat plain propagation's round count decisively
    assert(rounds <= 7, s"pointer jumping took $rounds rounds")
  }

  test("cluster representatives: longest doc wins its cluster, sizes right") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val corpus = Seq(
      (10L, base, "en", "s"),
      (11L, base + " kilo", "en", "s"),        // near-dup of 10, LONGER -> wins
      (30L, "totally unrelated words about engines and planners", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val reps = Dedup.clusterRepresentatives(corpus, 3, 0.8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(reps(10L) == ((11L, 11L, 2L))) // cluster 10: keep 11 (11 tokens)
    assert(reps(30L) == ((30L, 7L, 1L)))  // singleton keeps itself
  }

  test("fuzzy decontamination: near-dup of an eval doc flagged, eval excluded") {
    // doc 20 is "eval" (20 % 20 == 0); doc 21 normalizes to the same
    // text (signature-identical, est 1.0); doc 23 is unrelated
    val evalText = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (20L, evalText, "en", "s"),
      (21L, evalText.toUpperCase, "en", "s"),
      (23L, "completely different content with no overlap whatsoever at all here now", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.fuzzyDecontaminate(corpus, 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // only the near-dup train doc flags; the eval doc itself never
    // appears on the train side of the output
    assert(got == List((21L, 1L, 1.0)))
  }

  test("fused MinHashSlots is bit-identical to the per-permutation form") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val fused = Dedup.minhashSignatures(docs)
    val unfused = Dedup.shingled(docs)
      .select($"doc_id", Dedup.minhashSignature($"shingles").as("sig"))
    assert(fused.exceptAll(unfused).isEmpty && unfused.exceptAll(fused).isEmpty)
  }

  test("shared band stage: an empty gram set gets no band key on the word and char paths") {
    // the one empty-set guard every banded chain goes through: a doc with
    // grams gets NumHashes / rowsPerBand keys, a doc with none gets ONE
    // null key, which no band equi-join can match. "ab" is one word
    // shingle (a doc shorter than n words is its own shingle) but has no
    // char 5-gram; "" has no gram on either path.
    val docs = Seq((1L, "alpha bravo charlie delta echo foxtrot"), (2L, "ab"), (3L, ""))
      .toDF("doc_id", "text")
    def keys(sh: org.apache.spark.sql.DataFrame, rp: Int): Map[Long, Seq[String]] =
      Dedup.banded(sh, rowsPerBand = rp).select($"doc_id", $"bk").as[(Long, String)]
        .collect().toSeq.groupBy(_._1).map { case (d, r) => d -> r.map(_._2) }
    for ((path, sh, empty) <- Seq(("word", Dedup.shingled(docs, 3), Seq(3L)),
                                  ("char", Dedup.charShingled(docs, 5), Seq(2L, 3L)));
         rp <- Seq(Dedup.RowsPerBand, 2 * Dedup.RowsPerBand)) {
      val k = keys(sh, rp)
      (Seq(1L, 2L, 3L).diff(empty)).foreach { d =>
        assert(k(d).size == Dedup.NumHashes / rp && k(d).forall(_ != null),
          s"$path rp=$rp doc $d: ${k(d)}")
      }
      empty.foreach(d => assert(k(d) == Seq(null), s"$path rp=$rp doc $d: ${k(d)}"))
    }
    // the public word entry and the char pair op ride the same stage:
    // two gram-less docs never pair, though their signatures are equal
    assert(Dedup.withBandedSignature(docs, 3).filter($"doc_id" === 3L && $"bk".isNotNull).isEmpty)
    assert(Dedup.charLshPairs(docs, 5, 0.8).isEmpty)
  }

  test("fused SrpBandKeys is bit-identical to the unfused per-plane buckets") {
    import graft.functions.{DetHash, VectorMath}
    val (bands, r, dims) = (4, 8, 64)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val planeMatrix = Array.tabulate(bands * r)(p => DetHash.hyperplane(p, dims))
    val fused = emb.select($"vec_id",
      VectorMath.srpBandKeys($"embedding", planeMatrix, r).as("keys"))
    val unfused = emb.select($"vec_id", array((0 until bands).map { b =>
      lit(b.toLong * (1L << r)) +
        Similarity.srpBucketFrom($"embedding", b * r, r, dims)
    }: _*).as("keys"))
    assert(fused.exceptAll(unfused).isEmpty && unfused.exceptAll(fused).isEmpty)
  }

  test("embedding near-dup pairs: banded SRP finds the parallel pair") {
    // parallel vectors agree with EVERY hyperplane's sign, so they share
    // all band buckets regardless of the plane draw — guaranteed recall
    val pairs = Dedup.embeddingNearDupPairs(vecs, bands = 2, planesPerBand = 4,
      dims = 4, threshold = 0.95).select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("knn join: each vector's list is its banded candidates, exactly ranked") {
    // parallel pairs share every band bucket -> guaranteed mutual top-1;
    // directed output means BOTH orientations appear
    val knn = Similarity.knnJoin(vecs, k = 2, bands = 2, planesPerBand = 4,
      dims = 4).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val byA = knn.groupBy(_._1)
    // ranks are contiguous from 1 and ordered by descending score
    byA.foreach { case (a, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to sorted.length).toSeq, s"a=$a ranks")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq, s"a=$a order")
      assert(rows.forall(r => r._2 != a), s"a=$a self pair")
    }
    // the near-parallel pair is each other's top neighbour, both directions
    assert(knn.exists(r => r._1 == 0L && r._2 == 1L && r._4 == 1L))
    assert(knn.exists(r => r._1 == 1L && r._2 == 0L && r._4 == 1L))
  }

  test("ivf: assignment covers corpus with <= K lists; full probe == brute force") {
    val assigned = Similarity.ivfAssign(vecs, numCentroids = 2)
    assert(assigned.count() == 6)
    assert(assigned.select("c_id").distinct().count() <= 2)
    // probing every list is exhaustive search → identical to brute force
    val full = Similarity.ivfTopK(vecs, qid = 0L, k = 5, numCentroids = 2, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, qid = 0L, k = 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
  }

  test("ivf incremental: batch append equals the monolithic rebuild") {
    // the slice index + on-the-fly batch assignment must return row-for-
    // row what the full persisted index returns — append cannot drift
    val dir = "/root/testdata/sf0.001"
    val inc = Similarity.ivfIncrementalTopK(spark, dir, 0L, 20, 16, 4)
      .collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSeq
    val full = Similarity.ivfTopKPartitioned(spark, dir, 0L, 20, 16, 4)
      .collect().map(r => (r.getLong(0), r.get(1), r.getDouble(2))).toSeq
    assert(inc == full)
    // the batch side is genuinely present: a batch vector (vec_id%10>=8)
    // can appear in results; at minimum the union covers the corpus
    val n = Similarity.ivfSliceIndex(spark, dir, 16, 2).count() +
      graft.Tables.load(spark, dir, "embeddings")
        .filter($"vec_id" % 10 >= 8).count()
    assert(n == graft.Tables.load(spark, dir, "embeddings").count())
  }

  test("ivf ann: restricted probe returns a rank-preserving subset") {
    // iters = 0 (seed centroids): the expectations below pin the probe
    // MECHANICS to the fixture's hand-built geometry; training would move
    // the centroids (covered by the recall test)
    val ann = Similarity.ivfTopK(vecs, qid = 0L, k = 5, numCentroids = 2,
        nprobe = 1, iters = 0)
      .select("vec_id").as[Long].collect().toSeq
    val brute = Similarity.bruteForceTopK(vecs, qid = 0L, k = 6)
      .select("vec_id").as[Long].collect().toSeq
    assert(ann.nonEmpty && ann == brute.filter(ann.contains))
    // centroids 0/1 are near-parallel: vec 1 sits in its own list, the
    // orthogonal tie-broken vectors 4,5 land in q's list — IVF recall loss
    // by construction, rank order preserved
    assert(ann == Seq(4L, 5L))
    // a query whose nearest list holds its neighbour finds it
    val ann2 = Similarity.ivfTopK(vecs, qid = 2L, k = 5, numCentroids = 2,
        nprobe = 1, iters = 0)
      .select("vec_id").as[Long].collect().toSeq
    assert(ann2.contains(3L))
  }

  test("ivf training: recall@k >= the training-free stand-in on clustered data") {
    // four tight clusters around orthogonal directions in 8 dims, vec_ids
    // interleaved round-robin so the seed centroids (vec_id < 4) are four
    // OFF-CENTER members of distinct clusters; two Lloyd rounds should
    // recenter each list onto its cluster mean
    val dims = 8
    def v(cluster: Int, j: Int): Array[Float] = {
      val a = Array.fill(dims)(0.05f * ((cluster + j) % 3))
      a(cluster * 2) = 1.0f + 0.1f * (j % 5)
      a
    }
    val rows = for (j <- 0 until 10; c <- 0 until 4)
      yield ((j * 4 + c).toLong, s"c$c", v(c, j))
    val emb = rows.toDF("vec_id", "label", "embedding")
    def recallAt(k: Int, iters: Int): Double = {
      val qid = 7L
      val brute = Similarity.bruteForceTopK(emb, qid, k)
        .select("vec_id").as[Long].collect().toSet
      val ivf = Similarity.ivfTopK(emb, qid, k, numCentroids = 4,
          nprobe = 1, iters = iters)
        .select("vec_id").as[Long].collect().toSet
      ivf.intersect(brute).size.toDouble / k
    }
    val trained = recallAt(10, iters = 2)
    val standIn = recallAt(10, iters = 0)
    assert(trained >= standIn, s"trained=$trained standIn=$standIn")
    assert(trained >= 0.9, s"trained recall too low: $trained")
    // training actually moved the centroids off their seeds
    val seed = Similarity.ivfCentroids(emb, 4, iters = 0).collect()(0).toString
    val kmeans = Similarity.ivfCentroids(emb, 4, iters = 2).collect()(0).toString
    assert(seed != kmeans)

    // SAMPLED training: mod 3 is coprime to the id layout (id = j·4 + c),
    // so the slice keeps ~1/3 of EVERY cluster (mod 2/4 would alias onto
    // the cluster index and drop whole clusters — exactly the kind of
    // sampling hazard the deterministic slice makes visible). A third of
    // each cluster still recenters the per-list structure: recall holds
    // the same bar as full-corpus training.
    def recallSampled(k: Int, sampleMod: Int): Double = {
      val qid = 7L
      val brute = Similarity.bruteForceTopK(emb, qid, k)
        .select("vec_id").as[Long].collect().toSet
      val ivf = Similarity.ivfTopKSampled(emb, qid, k, numCentroids = 4,
          nprobe = 1, iters = 2, sampleMod = sampleMod)
        .select("vec_id").as[Long].collect().toSet
      ivf.intersect(brute).size.toDouble / k
    }
    val sampled = recallSampled(10, 3)
    assert(sampled >= 0.9, s"sampled-training recall too low: $sampled (full=$trained)")
    // and the sampled training really saw a different (smaller) train set
    val full = Similarity.ivfCentroids(emb, 4, iters = 2).collect()(0).toString
    val third = Similarity.ivfCentroids(emb, 4, iters = 2, sampleMod = 3)
      .collect()(0).toString
    assert(full != third, "sampleMod did not change the training slice")
  }

  test("int8 quantization: codes bounded, scales cancel, recall near exact") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val qz = Similarity.quantizeInt8(emb)
    // codes are REAL int8 (tinyint), and symmetric scaling keeps the
    // cast exact: every value in [-127, 127]
    assert(qz.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    val outOfRange = qz.select(explode($"codes").as("c"))
      .filter($"c" > 127 || $"c" < -127).count()
    assert(outOfRange == 0)
    // recall@20 of the quantized search vs the float brute force: int8
    // rounding costs a little rank resolution, not the neighbourhood
    val exact = Similarity.bruteForceTopK(emb, 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    val quant = Similarity.quantizedTopK(emb, 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    val recall = quant.intersect(exact).size.toDouble / 20
    assert(recall >= 0.8, s"recall=$recall")
    // a zero vector quantizes to all-zero codes, no division blowup
    val z = Similarity.quantizeInt8(
      Seq((1L, "z", Array.fill(4)(0.0f))).toDF("vec_id", "label", "embedding"))
      .select($"scale", $"codes").collect()(0)
    assert(z.getDouble(0) == 0.0 && z.getSeq[Byte](1).forall(_ == 0))
  }

  test("product quantization: codebook shape, bounded codes, ADC recall") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val books = Similarity.pqCodebooks(emb, 16, 16, 2, 64)
    // m·ks codewords, (m, c_id)-sorted, each dims/m coordinates wide
    val bk = books.select(explode($"books").as("b"))
      .select($"b.m", $"b.c_id", $"b.c_emb").collect()
    assert(bk.length == 16 * 16)
    assert(bk.forall(_.getSeq[Double](2).length == 4))
    assert(bk.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      (for (m <- 0 until 16; c <- 0 until 16) yield (m, c.toLong)))
    // every vector encodes to exactly m codes in [0, ks) — the literal
    // 16x compression claim (16 byte-sized codes vs 64 floats)
    val codes = Similarity.pqCodes(emb, books, 16, 16, 64)
      .select($"codes").as[Seq[Long]].collect()
    assert(codes.forall(c => c.length == 16 && c.forall(x => x >= 0 && x < 16)))
    // ADC top-k: no cartesian (the two broadcasts are 1-row), top-k is a
    // heap not a global sort, and recall holds against the float brute
    // force. The corpus is near-random in 64 dims — the hardest case for
    // coarse quantization (top-20 cosine gaps are tiny), so the bar is
    // 10x the random baseline (20/500 = 0.04), not the clustered-data
    // bar the IVF spec uses; measured 0.6 at these params, and the
    // coarser m=8 tier measures 0.25 on the same data.
    val pq = Similarity.pqTopK(emb, 0L, 20, 16, 16, 2, 64)
    val plan = pq.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("TakeOrderedAndProject"))
    val exact = Similarity.bruteForceTopK(emb, 0L, 20)
      .select("vec_id").as[Long].collect().toSet
    val got = pq.select("vec_id").as[Long].collect().toSet
    val recall = got.intersect(exact).size.toDouble / 20
    assert(recall >= 0.4, s"pq recall@20=$recall")
    // IVFADC composition: with nprobe = K the coarse tier degenerates
    // away and the composite must equal the plain PQ scan row for row
    val full = Similarity.ivfPqTopK(emb, 0L, 20, 16, 16, 16, 16, 2, 64)
      .collect().map(_.toSeq).toSeq
    assert(full == pq.collect().map(_.toSeq).toSeq,
      "full-probe IVFADC drifted from the plain PQ scan")
    // the restricted probe (scan nprobe/K of the corpus) keeps most of
    // the compressed neighbourhood
    val routed = Similarity.ivfPqTopK(emb, 0L, 20, 16, 4, 16, 16, 2, 64)
      .select("vec_id").as[Long].collect().toSet
    val routedRecall = routed.intersect(got).size.toDouble / 20
    assert(routedRecall >= 0.5, s"ivfpq vs pq recall@20=$routedRecall")
  }

  test("jaccard verify strategies agree: bitmap == gram-array intersect") {
    // the SAME fixture through both verify shapes must yield identical
    // pairs (the gate only changes the physical plan, never the set)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val prior = Dedup.BitmapVocabCap
    try {
      Dedup.BitmapVocabCap = Long.MaxValue // force bitmap
      val viaBitmap = Dedup.charJaccardPairs(docs, 7, 0.9)
        .collect().map(_.toSeq).toSet
      Dedup.BitmapVocabCap = 0L // force gram-array intersect
      val viaArrays = Dedup.charJaccardPairs(docs, 7, 0.9)
        .collect().map(_.toSeq).toSet
      assert(viaBitmap == viaArrays)
      assert(viaBitmap.nonEmpty, "fixture produced no pairs — vacuous test")
    } finally Dedup.BitmapVocabCap = prior
    // the bitset primitives themselves: per-group OR across partitions,
    // popcount intersection, width-mismatch null
    import graft.functions.BitSetOps
    val bits = Seq((1L, 3), (1L, 64), (1L, 3), (2L, 64), (2L, 65))
      .toDF("gid", "bit").repartition(4)
    val bms = bits.groupBy($"gid")
      .agg(BitSetOps.bitsetOr($"bit", 128).as("bm"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(bms(1L).length == 16 && bms(2L).length == 16)
    val cnt = Seq((bms(1L), bms(2L))).toDF("a", "b")
      .select(BitSetOps.bitAndCount($"a", $"b")).as[Long].head()
    assert(cnt == 1L, s"expected |{3,64} ∩ {64,65}| = 1, got $cnt")
    val mism = Seq((bms(1L), Array[Byte](0, 0))).toDF("a", "b")
      .select(BitSetOps.bitAndCount($"a", $"b")).collect()(0)
    assert(mism.isNullAt(0), "width mismatch must be null, not truncated")
  }

  test("srp bucket histogram partitions all vectors") {
    val total = Similarity.bucketHistogram(vecs, planes = 2, dims = 4)
      .agg(sum("cnt")).as[Long].collect()(0)
    assert(total == 6L)
  }

  test("semantic pairs find near-identical texts from raw text, skip unrelated") {
    val pairs = Dedup.semanticPairs(docs, bands = 8, planesPerBand = 8,
      dims = 64, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 is doc 0 up to normalization (identical count vector, cos = 1);
    // doc 2 shares most tokens (near dup). doc 3 is unrelated; doc 4 is
    // empty (all-zero vector — must pair with nothing, no NaN leakage)
    assert(pairs.contains((0L, 1L)), s"pairs=$pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), s"pairs=$pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"pairs=$pairs")
  }

  test("semantic pairs: identical-after-normalize texts score exactly 1.0") {
    val got = Dedup.semanticPairs(docs, 8, 8, 64, 0.9)
      .filter($"a" === 0L && $"b" === 1L)
      .select($"cos_sim").as[Double].collect()
    assert(got.sameElements(Array(1.0)))
  }

  test("semantic pairs never degrade to a cartesian/nested-loop join") {
    // parquet-backed input: over a LocalRelation Catalyst constant-folds
    // the whole embedding projection away, hiding the plan shape
    val real = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val p = Dedup.semanticPairs(real, 8, 16, 64, 0.95)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("hash_embed_counts"), "embedding stage lost the fused expression")
    assert(p.contains("srp_band_keys"), "banding lost the fused expression")
  }

  test("semDedup: exactly the within-cluster keep-first duplicates") {
    val dir = "/root/testdata/sf0.001"
    val tau = 0.4
    val out = Similarity.semDedup(spark, dir, 16, 2, tau).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("dup_of"), r.getAs[Long]("n_dups")))
    assert(out.nonEmpty, "fixture should contain within-cluster near-dups at 0.4")
    // ground truth from the SAME persisted assignment, brute-forced on
    // the driver with the identical left-to-right double summation
    val asg = Similarity.ivfAssignWith(
        Tables.load(spark, dir, "embeddings"),
        Similarity.ivfCentroidsTable(spark, dir, 16, 2))
      .select("vec_id", "c_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) { dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1 }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    val expected = (for {
      (bi, bc, bv) <- asg
      partners = asg.filter { case (ai, ac, av) =>
        ac == bc && ai < bi && cos(av, bv) > tau }
      if partners.nonEmpty
    } yield (bi, bc, partners.map(_._1).min, partners.length.toLong)).toSet
    assert(out.toSet == expected)
  }

  test("prunePrototypes: per-cluster drop quota and contiguous surviving ranks") {
    val dir = "/root/testdata/sf0.001"
    val surv = Similarity.prunePrototypes(spark, dir, 16, 2, 0.2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("c_id"), r.getAs[Long]("rk")))
    val sizes = Similarity.ivfAssignWith(
        Tables.load(spark, dir, "embeddings"),
        Similarity.ivfCentroidsTable(spark, dir, 16, 2))
      .groupBy("c_id").count().as[(Long, Long)].collect().toMap
    assert(surv.nonEmpty)
    val bySize = surv.groupBy(_._2)
    // every cluster appears (no cluster is so small it vanishes at 20%)
    assert(bySize.keySet == sizes.keySet)
    bySize.foreach { case (cid, rs) =>
      val cnt = sizes(cid)
      val dropped = math.ceil(cnt * 0.2).toLong
      assert(rs.length == cnt - dropped, s"cluster $cid")
      // survivors are exactly the ranks dropped+1 .. cnt
      assert(rs.map(_._3).sorted.toSeq == (dropped + 1 to cnt).toSeq,
        s"cluster $cid ranks not contiguous")
    }
    // distinct vectors, each surviving in its own cluster only
    assert(surv.map(_._1).distinct.length == surv.length)
  }

  test("simhash pairs: pigeonhole finds every pair within budget, none beyond") {
    import graft.operators.Dedup
    // 0/1 normalize identically (hamming 0); 2 is a near-dup of 0 (one
    // token swapped → low hamming); 3 is unrelated
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L, 0L)), s"exact dup pair missing: $pairs")
    // verify against brute force over the signatures: EVERY pair within
    // the budget must be found (the pigeonhole guarantee is exactness,
    // not approximation), and none beyond it
    val sigs = Dedup.simhashSignatures(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(pairs == brute, s"pigeonhole=$pairs brute=$brute")
  }

  test("knnJoinAuto matches knnJoin at small n and keeps per-vector k") {
    import graft.operators.Similarity
    val emb = Seq.tabulate(20) { i =>
      (i.toLong, Array.tabulate(64)(d =>
        math.sin(i * 0.7 + d * 0.31).toFloat).toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val auto = Similarity.knnJoinAuto(emb, 3, 8, 8, 64)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val fixed = Similarity.knnJoin(emb, 3, 8, 8, 64)
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    // n=20 → ceil(log2(20/8)) = 2, floored to the fixed width 8: identical
    assert(auto.sameElements(fixed))
    assert(auto.groupBy(_._1).values.forall(_.length <= 3))
  }

  test("knnJoinAuto band sizing reads plan statistics instead of running count()") {
    import graft.operators.Similarity
    // Range carries an exact rowCount statistic → no job may run. Job
    // groups are thread-local, so this stays exact under parallel suites.
    val statful = spark.range(100000).toDF("vec_id")
    spark.sparkContext.setJobGroup("corpus_rows_stats_spec", "spec", false)
    val (n1, fromStats) =
      try Similarity.corpusRows(statful)
      finally spark.sparkContext.clearJobGroup()
    assert(fromStats && n1 == 100000L, s"stats path not taken: $n1")
    assert(spark.sparkContext.statusTracker
      .getJobIdsForGroup("corpus_rows_stats_spec").isEmpty,
      "corpusRows launched a job despite plan statistics")
    // a parquet scan without collected stats falls back to the count job,
    // and both paths select the same p for the same n
    val pq = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val (n2, fromStats2) = Similarity.corpusRows(pq)
    assert(!fromStats2 && n2 == pq.count(), "parquet fallback broken")
  }

  test("container-sliced report build equals the one-plan form") {
    // the build knob containmentReportIndex turns at scale: S sequential
    // container-slice jobs whose partials merge — value-identical
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val whole = Dedup.containmentReport(base, 3, 0.9)
      .as[(Long, Long, Long, Double)].collect().toSet
    val sliced = Dedup.containmentReportSliced(base, 3, 0.9, 4)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(whole.nonEmpty && sliced == whole,
      s"sliced build diverged: ${(sliced -- whole).take(3)} vs ${(whole -- sliced).take(3)}")
  }

  test("staged char-jaccard build equals the one-plan form and cleans its staging") {
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val whole = Dedup.charJaccardPairs(base, 7, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    val staged = Dedup.charJaccardPairsStaged(base, 7, 0.9, 4)
      .as[(Long, Long, Double)].collect().toSet
    assert(whole.nonEmpty && staged == whole,
      s"staged build diverged: ${(staged -- whole).take(3)} vs ${(whole -- staged).take(3)}")
    // the staging dir is deleted once the union is checkpointed (r12
    // advisory: the sliced build used to leak its temp dir)
    val root = new java.io.File(Tables.persistedTableRoot(spark))
    val leaked = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_staging_"))
    assert(leaked.isEmpty, s"staging dirs leaked: ${leaked.map(_.getName).toSeq}")
  }

  test("auto-band gate: stats estimates near the reband boundary defer to an exact count") {
    // the oracle-protection rule (r12 advisory): a stale/inflated stats
    // estimate near RebandAt must not silently flip the band width of
    // oracle-pinned relations — within 4x of the bound the exact count
    // decides; far from it (or when the estimate IS an exact count)
    // stats stay free
    assert(Dedup.gateRows(100000L, fromStats = true, exact = 1000L) == 1000L)
    assert(Dedup.gateRows(20000L, fromStats = true, exact = 999L) == 999L)
    assert(Dedup.gateRows(10000L, fromStats = true,
      exact = fail("exact count must not run far below the bound")) == 10000L)
    assert(Dedup.gateRows(1000000L, fromStats = true,
      exact = fail("exact count must not run far above the bound")) == 1000000L)
    assert(Dedup.gateRows(100000L, fromStats = false,
      exact = fail("an exact estimate never recounts")) == 100000L)
  }

  test("autoRowsPerBand: fixed width at oracle scales, doubles per 256x, tiles") {
    // the contract the oracle SQL depends on: every corpus the DuckDB
    // fixtures run at resolves to the FIXED 4-slot width
    assert(Dedup.autoRowsPerBand(500) == 4)
    assert(Dedup.autoRowsPerBand(65536) == 4)
    // one doubling per 256x past the bound, capped at the signature
    assert(Dedup.autoRowsPerBand(65537) == 8)
    assert(Dedup.autoRowsPerBand(500000) == 8) // the 100x probe corpus
    assert(Dedup.autoRowsPerBand(65536L * 256) == 8)
    assert(Dedup.autoRowsPerBand(65536L * 256 + 1) == 16)
    assert(Dedup.autoRowsPerBand(Long.MaxValue / 2) == 16) // capped
  }

  test("wide-band gate admits a subset of the fixed gate (recall knob, one-way)") {
    // a wide-band collision (slots 0-7 equal) implies both 4-slot
    // sub-band collisions, so widening can only REMOVE candidates —
    // never invent pairs the fixed relation lacks. Pinned on the skewed
    // fixture, where both tiers exercise hot buckets.
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val skewed = Dedup.skewedDocs(base)
    def pairsAt(rp: Int): Set[(Long, Long)] =
      Dedup.charLshPairs(skewed, 5, 0.8, rp)
        .select("a", "b").as[(Long, Long)].collect().toSet
    val fixed = pairsAt(4)
    val wide = pairsAt(8)
    assert(wide.subsetOf(fixed),
      s"wide-band invented pairs: ${(wide -- fixed).take(5)}")
    // identical normalized texts collide at EVERY width (the collapse
    // contract charLshClusters relies on): the tier-1 clique pair set
    // survives widening
    val clique = fixed.filter { case (a, b) => a % 10 == 0 && b % 10 == 0 }
    assert(clique.nonEmpty && clique.subsetOf(wide),
      "identical-text clique lost under the wide gate")
  }

  test("charLshClusters: labels match closure of the gated relation + singletons") {
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val labels = Dedup.charLshClusters(base, 7, 0.9)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == base.count(), "every doc labeled exactly once")
    // reference closure: union-find over the registered pair relation
    val pairs = Dedup.charLshPairs(base, 7, 0.9)
      .select("a", "b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map(labels.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = labels.keys.map(k => k -> find(k)).toMap
    assert(labels == expect, "labels diverge from the gated closure")
  }

  test("containmentPairsLsh: exact verify on banded candidates, both directions") {
    // excerpt 1 is fully contained in doc 0; 0 is NOT contained in 1
    // (direction matters); 2 is unrelated; 3/4 are identical texts
    // (mutual containment 1.0); 5 is too short for any 3-shingle
    val cdocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally different words live in this unrelated document here"),
      (3L, "shared duplicate sentence content for the family pair case"),
      (4L, "shared duplicate sentence content for the family pair case"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairsLsh(cdocs, 3, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // 1 ⊂ 0: |A∩B|/|A| = 6/6 = 1.0 (A = 1's six 3-shingles, all in 0)
    assert(got.contains((1L, 0L, 1.0)), s"missing contained excerpt: $got")
    assert(!got.exists(p => p._1 == 0L && p._2 == 1L),
      "container direction leaked: 0 is not contained in 1")
    assert(got.contains((3L, 4L, 1.0)) && got.contains((4L, 3L, 1.0)),
      "identical texts must be mutually contained at 1.0")
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L),
      "empty-shingle doc must never pair")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L), "unrelated doc paired")
    // and the report twin's expansion agrees with a direct aggregation
    // of the pair relation on this fixture (no collapse effects: 3,4
    // are the only family and both relations see them identically)
    val rep = Dedup.containmentReportLsh(cdocs, 3, 0.9)
      .as[(Long, Long, Long, Double)].collect().toSet
    val byA = got.groupBy(_._1).map { case (a, ps) =>
      val best = ps.map(p => (-p._3, p._2)).min
      (a, ps.size.toLong, best._2, -best._1)
    }.toSet
    assert(rep == byA, s"report expansion diverged:\n$rep\nvs\n$byA")
  }
}
