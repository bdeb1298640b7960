package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pure tests for the bench tier selection (Bench.tierSelect) — the
  * protocol that re-fits the 315-row surface to the driver's 1200 s
  * budget. A live demonstration needs a full bench run; the selection
  * logic itself is deterministic and spec-pinned here.
  */
class BenchTierSpec extends AnyFunSuite {

  private val anchor = Map(
    "x1_light" -> 0.5, "x2_light" -> 0.7, "x3_light" -> 0.3,
    "x4_heavy" -> 5.0, "x5_light" -> 1.1, "x6_light" -> 0.2,
    "a1_ref" -> 0.4, "j1_ref" -> 9.9, "q_ref" -> 0.1)
  private val all = anchor.keys.toSeq

  test("non-x rows are always headline, regardless of anchor weight") {
    val (h, r, s) = Bench.tierSelect(all, anchor, round = 13)
    assert(Set("a1_ref", "j1_ref", "q_ref").subsetOf(h.toSet))
    assert((r ++ s).forall(_.startsWith("x")))
  }

  test("x rows above the heavy threshold are headline; light tail splits by stable hash group") {
    val (h, r, s) = Bench.tierSelect(all, anchor, round = 13)
    assert(h.contains("x4_heavy"))
    val tail = Set("x1_light", "x2_light", "x3_light", "x5_light", "x6_light")
    assert((r ++ s).toSet == tail)
    // rotated = exactly the tail rows whose name-hash group matches the round
    assert(r.forall(n => ((n.hashCode % 3) + 3) % 3 == 13 % 3))
    assert(s.forall(n => ((n.hashCode % 3) + 3) % 3 != 13 % 3))
  }

  test("rotation groups of REAL surface names match hand-computed JLS hashes") {
    // concrete pins (hash computed by hand from the JLS s[0]·31ⁿ⁻¹+…
    // definition, NOT by calling the production expression — a test that
    // mirrors the formula can only prove the code equals itself):
    //   x2_jaccard_pairs  hash −1769449167 → group 0
    //   x7_lang_id        hash  −426379380 → group 0
    //   x1_dedup_exact    hash   495520984 → group 1
    //   x21_url_canon     hash  1938783575 → group 2
    //   x46_oov_rate      hash   803137166 → group 2
    val names = Seq("x2_jaccard_pairs", "x7_lang_id", "x1_dedup_exact",
      "x21_url_canon", "x46_oov_rate")
    val light = names.map(_ -> 0.1).toMap
    def rotatedAt(round: Int): Set[String] =
      Bench.tierSelect(names, light, round)._2.toSet
    assert(rotatedAt(0) === Set("x2_jaccard_pairs", "x7_lang_id"))
    assert(rotatedAt(1) === Set("x1_dedup_exact"))
    assert(rotatedAt(2) === Set("x21_url_canon", "x46_oov_rate"))
    // and the groups recur with period 3
    assert(rotatedAt(3) === rotatedAt(0))
    assert(rotatedAt(14) === rotatedAt(2))
  }

  test("committed-anchor rotation groups are balanced: no group exceeds 45% of the tail") {
    // the hash-keyed thirds are statistical, not by construction — this
    // is the guard that catches a skewed group BEFORE it overruns the
    // driver's 1200 s budget (the artifact also now emits
    // rotated_anchor_min per round). Runs against the real committed
    // anchor and the real tail split.
    val mins = Bench.readAnchor("BENCH_ANCHOR.json")
    assert(mins.nonEmpty, "committed BENCH_ANCHOR.json must parse")
    val names = mins.keys.toSeq
    val groups = (0 to 2).map { rd =>
      Bench.tierSelect(names, mins, rd)._2.flatMap(mins.get).sum
    }
    val tailTotal = groups.sum
    assert(tailTotal > 0.0)
    for ((g, i) <- groups.zipWithIndex)
      assert(g <= 0.45 * tailTotal,
        f"rotation group $i carries $g%.1f s of the $tailTotal%.1f s tail (> 45%%)")
  }

  test("a row's rotation round is stable under tail growth (no index-churn starvation)") {
    // index-keyed rotation shifted every row's group when the tail grew;
    // hash-keyed rotation must keep each row's group fixed no matter how
    // many new light rows are added around it
    val grown = all ++ Seq("x0_aa_light", "x0_ab_light", "x0_ac_light",
      "x0_ad_light", "x0_ae_light", "x0_af_light", "x0_ag_light")
    val grownAnchor = anchor ++ grown.filter(_.startsWith("x0_")).map(_ -> 0.1)
    for (rd <- 13 to 18) {
      val before = Bench.tierSelect(all, anchor, rd)._2.toSet
      val after = Bench.tierSelect(grown, grownAnchor, rd)._2.toSet
      assert(before.subsetOf(after),
        s"round $rd: growing the tail must never move an existing row out of its rotation round")
    }
  }

  test("a row absent from the anchor is headline (new rows must be measured)") {
    val (h, _, _) = Bench.tierSelect(all :+ "x9_new", anchor, round = 13)
    assert(h.contains("x9_new"))
  }

  test("rotation is deterministic and covers the whole tail across 3 consecutive rounds") {
    val rots = (13 to 15).map(rd => Bench.tierSelect(all, anchor, rd)._2.toSet)
    assert(rots.reduce(_ ++ _) ==
      Set("x1_light", "x2_light", "x3_light", "x5_light", "x6_light"))
    assert(rots.combinations(2).forall { case Seq(a, b) => (a intersect b).isEmpty })
    // same round → identical selection
    assert(Bench.tierSelect(all, anchor, 13)._2 == Bench.tierSelect(all, anchor, 13)._2)
  }

  test("headline + rotated + skipped partitions the input exactly") {
    for (rd <- 0 to 5) {
      val (h, r, s) = Bench.tierSelect(all, anchor, rd)
      assert((h ++ r ++ s).sorted == all.sorted)
      assert(h.intersect(r).isEmpty && h.intersect(s).isEmpty && r.intersect(s).isEmpty)
    }
  }

  test("empty anchor degrades to the full surface as headline, never to skipping") {
    val (h, r, s) = Bench.tierSelect(all, Map.empty, round = 13)
    // tierSelect with no anchor info: absent rows are headline by rule
    assert(h.sorted == all.sorted && r.isEmpty && s.isEmpty)
  }

  test("readAnchor on a missing file yields the empty map (full-surface fallback)") {
    assert(Bench.readAnchor("/nonexistent/anchor.json").isEmpty)
  }

  test("readAnchor parses the committed BENCH_ANCHOR.json shape") {
    val f = java.nio.file.Files.createTempFile("anchor", ".json")
    java.nio.file.Files.writeString(f,
      """{"source":["a"],"n":2,"mins":{"q_a":1.5,"x1_b":0.25}}""")
    val m = Bench.readAnchor(f.toString)
    assert(m == Map("q_a" -> 1.5, "x1_b" -> 0.25))
    java.nio.file.Files.delete(f)
  }

  // ---- tier-round marker (r16 scaling-probe parity): the driver's
  // low-core run must resolve the SAME rotation round as the main run
  // minutes earlier, even though the driver saves BENCH_rN.json between
  // the two and shifts the file-count derivation.

  test("round marker round-trips within the freshness window") {
    val f = java.nio.file.Files.createTempFile("tier_round", ".json")
    val now = 1700000000000L
    Bench.writeRoundMarker(16, f.toString, now)
    assert(Bench.readRoundMarker(f.toString, now + 60 * 1000) === Some(16))
    java.nio.file.Files.delete(f)
  }

  test("a stale round marker is ignored (next round re-derives)") {
    val f = java.nio.file.Files.createTempFile("tier_round", ".json")
    val now = 1700000000000L
    Bench.writeRoundMarker(16, f.toString, now)
    assert(Bench.readRoundMarker(f.toString,
      now + Bench.RoundMarkerFreshMs + 1) === None)
    java.nio.file.Files.delete(f)
  }

  test("a reused round marker is not rewritten, so chained runs still rotate") {
    val f = java.nio.file.Files.createTempFile("tier_round", ".json")
    java.nio.file.Files.delete(f)
    val t0 = 1700000000000L
    val hour = 3600L * 1000
    var derived = 5
    def run(at: Long): Int = Bench.tierRound(None, tierOff = false, derived, f.toString, at)
    assert(run(t0) === 5)           // no marker: derived and persisted
    derived = 6
    assert(run(t0 + 2 * hour) === 5) // fresh marker reused, left as written at t0
    // 4 h after the marker was WRITTEN it is stale, although the last run
    // was only 2 h ago: the round re-derives instead of staying pinned
    assert(run(t0 + 4 * hour) === 6)
    // an env pin wins and leaves the marker alone; tiering off neither
    // reads nor writes it
    assert(Bench.tierRound(Some(9), tierOff = false, 0, f.toString, t0 + 4 * hour) === 9)
    assert(Bench.tierRound(None, tierOff = true, 7, f.toString, t0 + 4 * hour) === 7)
    assert(Bench.readRoundMarker(f.toString, t0 + 4 * hour) === Some(6))
    java.nio.file.Files.delete(f)
  }

  test("a missing or malformed round marker degrades to None, never throws") {
    assert(Bench.readRoundMarker("/nonexistent/tier_round.json") === None)
    val f = java.nio.file.Files.createTempFile("tier_round", ".json")
    java.nio.file.Files.writeString(f, "{not json")
    assert(Bench.readRoundMarker(f.toString) === None)
    java.nio.file.Files.delete(f)
  }
}
