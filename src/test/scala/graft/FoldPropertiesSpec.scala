package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Consumer.{BrokerIn, DeliveryIn, DriftIn}
import graft.cdc.SchemaEvolution.SchemaChange
import graft.streaming.Streams

/** Chop-invariance properties for the shared micro-batch folds: folding a
  * feed through state in ONE batch must equal folding it through the same
  * state chopped at ARBITRARY micro-batch boundaries — the exactness claim
  * every streaming operator makes ("identical no matter how the stream is
  * chopped"), tested directly on the pure functions over hundreds of
  * random feeds and random chops. No SparkSession: these are the very
  * folds the `StreamsV2` operators call (which StreamingSpec separately
  * pins to the batch operators).
  *
  * Each fold's documented arrival contract bounds the chop: broker/drift
  * require per-partition lsn order, throttle (availableAt, seq) order,
  * schema capture (commitTs, column) order — so feeds generate sorted in
  * contract order and chops are arbitrary split points on that order.
  */
class FoldPropertiesSpec extends AnyFunSuite {

  private def samples[T](gen: Gen[T], n: Int, seed0: Long): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(seed0 + i)))

  /** Random split of `xs` into consecutive chunks (possibly empty ends). */
  private def chopsGen[T](xs: List[T]): Gen[List[List[T]]] =
    Gen.listOfN(xs.length, Gen.oneOf(true, false)).map { cuts =>
      val out = scala.collection.mutable.ListBuffer.empty[List[T]]
      val cur = scala.collection.mutable.ListBuffer.empty[T]
      xs.zip(cuts).foreach { case (x, cut) =>
        cur += x
        if (cut) { out += cur.toList; cur.clear() }
      }
      out += cur.toList
      out.toList
    }

  test("throttleFold: chopped == one-shot on (availableAt, seq)-ordered feeds") {
    val feedGen: Gen[List[DeliveryIn]] = for {
      n <- Gen.choose(0, 40)
      ts <- Gen.listOfN(n, Gen.choose(0L, 500L))
    } yield ts.sorted.zipWithIndex.map { case (t, i) => DeliveryIn("m", i + 1L, t) }
    samples(Gen.zip(feedGen, Gen.choose(0L, 1L)), 60, 1300L).foreach { case (feed, _) =>
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val oneShot = Streams.throttleFold(
          Streams.ThrottleState(0L, 0.0, 0), feed, rate = 2.0, stepMs = 50L, batchCap = 3)._2
        val chopped = chop.foldLeft(
          (Streams.ThrottleState(0L, 0.0, 0), Seq.empty[graft.cdc.Consumer.DeliveryOut])) {
          case ((st, acc), batch) =>
            val (next, out) = Streams.throttleFold(st, batch, rate = 2.0, stepMs = 50L, batchCap = 3)
            (next, acc ++ out)
        }._2
        assert(chopped === oneShot, s"feed=$feed chop=$chop")
      }
    }
  }

  test("brokerFold: chopped == one-shot on lsn-ordered feeds") {
    val feedGen: Gen[List[BrokerIn]] = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 400L), Gen.oneOf(true, false)))
    } yield rows.zipWithIndex.map { case ((t, drop), i) => BrokerIn(0, i + 1L, t, drop) }
    samples(feedGen, 60, 2300L).foreach { feed =>
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val oneShot = Streams.brokerFold(
          0, Streams.BrokerQueueState(0L, 0), feed, tickMs = 50L, maxApplyPerTick = 2)._2
        val chopped = chop.foldLeft(
          (Streams.BrokerQueueState(0L, 0), Seq.empty[graft.cdc.Consumer.BrokerOut])) {
          case ((st, acc), batch) =>
            val (next, out) = Streams.brokerFold(0, st, batch, tickMs = 50L, maxApplyPerTick = 2)
            (next, acc ++ out)
        }._2
        assert(chopped === oneShot, s"feed=$feed chop=$chop")
      }
    }
  }

  test("driftFold: chopped + flush == one-shot + flush on lsn/t-ordered feeds") {
    // enqueue times non-decreasing with lsn (the log's order); half the
    // events drift (availableAt jumps a tick), some are drops
    val feedGen: Gen[List[DriftIn]] = for {
      n <- Gen.choose(0, 30)
      deltas <- Gen.listOfN(n, Gen.choose(0L, 60L))
      drifts <- Gen.listOfN(n, Gen.oneOf(0L, 50L, 120L))
      drops <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield {
      val ts = deltas.scanLeft(1L)(_ + _).tail
      ts.lazyZip(drifts).lazyZip(drops).toList.zipWithIndex.map {
        case ((t, drift, drop), i) => DriftIn(0, i + 1L, t, t + drift, drop)
      }
    }
    def run(st: Streams.DriftQueueState, batches: List[List[DriftIn]]) = {
      val (endSt, acc) = batches.foldLeft((st, Seq.empty[graft.cdc.Consumer.BrokerOut])) {
        case ((s, a), b) =>
          val (next, out) = Streams.driftFold(0, s, b, tickMs = 50L, maxApplyPerTick = 2)
          (next, a ++ out)
      }
      acc ++ Streams.driftFold(0, endSt, Seq.empty, tickMs = 50L, maxApplyPerTick = 2,
        flush = true)._2
    }
    samples(feedGen, 60, 3300L).foreach { feed =>
      val oneShot = run(Streams.DriftQueueState(0L, Seq.empty), List(feed))
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val chopped = run(Streams.DriftQueueState(0L, Seq.empty), chop)
        assert(chopped === oneShot, s"feed=$feed chop=$chop")
      }
    }
  }

  test("schemaFold: chopped == one-shot on (commitTs, column)-ordered feeds") {
    val feedGen: Gen[List[SchemaChange]] = for {
      n <- Gen.choose(0, 25)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.choose(0L, 300L), Gen.oneOf("a", "b", "c"), Gen.oneOf("ADD_COLUMN", "DROP_COLUMN")))
    } yield rows.sortBy(r => (r._1, r._2)).map { case (t, c, act) => SchemaChange("t0", act, c, t) }
    samples(feedGen, 60, 4300L).foreach { feed =>
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val oneShot = Streams.schemaFold(1, feed)._2
        val chopped = chop.foldLeft((1, Seq.empty[Streams.VersionedSchemaChange])) {
          case ((v, acc), batch) =>
            val (next, out) = Streams.schemaFold(v, batch)
            (next, acc ++ out)
        }._2
        assert(chopped === oneShot, s"feed=$feed chop=$chop")
      }
    }
  }

  test("asOfFold: chopped == one-shot on (ts, build-first)-ordered feeds") {
    // contract order is (ts, builds before probes on ties): a chop between
    // an equal-ts probe and build may legitimately change what the probe
    // sees, so the feed generates in fold order and chops anywhere on it
    val feedGen: Gen[List[Streams.AsOfIn]] = for {
      n <- Gen.choose(0, 30)
      rows <- Gen.listOfN(n, Gen.zip(
        Gen.choose(0L, 50L), Gen.oneOf(true, false), Gen.choose(0L, 100000L)))
    } yield rows.sortBy(r => (r._1, if (r._2) 0 else 1)).zipWithIndex.map {
      case ((t, build, id), i) => Streams.AsOfIn(1L, t, build, id * 100L + i)
    }
    // emission order among equal-ts probes is batch-internal (sorted by id
    // within a batch) and carries no semantics — compare canonically sorted
    def canon(out: Seq[Streams.AsOfOut]) = out.sortBy(o => (o.ts, o.id))
    samples(feedGen, 60, 5300L).foreach { feed =>
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val oneShot = Streams.asOfFold(1L, None, feed)._2
        val chopped = chop.foldLeft(
          (Option.empty[Streams.AsOfState], Seq.empty[Streams.AsOfOut])) {
          case ((st, acc), batch) =>
            val (next, out) = Streams.asOfFold(1L, st, batch)
            (next, acc ++ out)
        }._2
        assert(canon(chopped) === canon(oneShot), s"feed=$feed chop=$chop")
      }
    }
  }

  test("budgetFold: chopped == one-shot on docId-ordered feeds") {
    val feedGen: Gen[List[Streams.BudgetIn]] = for {
      n <- Gen.choose(0, 40)
      toks <- Gen.listOfN(n, Gen.choose(1L, 120L))
    } yield toks.zipWithIndex.map { case (t, i) => Streams.BudgetIn("s", i + 1L, t) }
    samples(feedGen, 60, 7300L).foreach { feed =>
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        val oneShot = Streams.budgetFold("s", None, feed, budget = 1000L)._2
        val chopped = chop.foldLeft((Option.empty[Long], Seq.empty[Streams.BudgetOut])) {
          case ((st, acc), batch) =>
            val (used, out) = Streams.budgetFold("s", st, batch, budget = 1000L)
            (Some(used), acc ++ out)
        }._2
        assert(chopped === oneShot, s"feed=$feed chop=$chop")
      }
    }
  }

  test("BloomMask: merge order, partitioning and duplication never move a bit") {
    // bit-OR accumulation is commutative, associative and idempotent, so
    // the mask is a pure function of the position SET — the exactness
    // claim that lets the DuckDB oracle pin a 'probabilistic' filter.
    // Random feeds, random chops, random shuffles, random duplication.
    val mBits = 256
    val mg = new graft.functions.BloomMask(mBits)
    def build(positions: Seq[Long]): Seq[Long] =
      positions.foldLeft(mg.zero)((b, p) => mg.reduce(b, p)).toSeq
    val gen = for {
      feed <- Gen.listOf(Gen.choose(0L, mBits - 1L))
      chop <- Gen.choose(1, 5)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (feed, chop, seed)
    var seed = Seed(7L)
    (1 to 200).foreach { _ =>
      val (feed, chop, s0) = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val oneShot = build(feed)
      // arbitrary partitioning + pairwise merge (the distributed agg path)
      val parts = feed.grouped(math.max(1, (feed.size + chop - 1) / chop)).toSeq
        .map(p => p.foldLeft(mg.zero)((b, x) => mg.reduce(b, x)))
      val merged = parts.foldLeft(mg.zero)((a, b) => mg.merge(a, b)).toSeq
      assert(merged === oneShot, s"partition merge moved a bit: $feed")
      // shuffled + duplicated input — idempotence and commutativity
      val rng = new scala.util.Random(s0)
      val noisy = rng.shuffle(feed ++ feed.take(feed.size / 2))
      assert(build(noisy) === build(feed ++ feed.take(feed.size / 2)))
      if (feed.nonEmpty)
        assert(build(rng.shuffle(feed)) === oneShot)
    }
  }

  test("funnelFold: chopped == one-shot on tMs-ordered feeds") {
    val steps = Seq("signup", "click", "purchase")
    val types = Gen.oneOf("signup", "click", "purchase", "view")
    val feedGen: Gen[List[Streams.EventIn]] = for {
      n <- Gen.choose(0, 30)
      ts <- Gen.listOfN(n, Gen.choose(0L, 200L))
      tys <- Gen.listOfN(n, types)
    } yield ts.sorted.zip(tys).map { case (t, ty) => Streams.EventIn(1L, ty, t) }
    samples(feedGen, 80, 4100L).foreach { feed =>
      val (s0, o0) = Streams.funnelFold(steps, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.FunnelProgress] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.funnelFold(steps, st, batch)
          st = Some(s1); o1
        }
        assert(st.contains(s0) || (st.isEmpty && feed.isEmpty),
          s"state diverged: $feed chopped $chop")
        assert(out === o0, s"output diverged: $feed chopped $chop")
      }
    }
  }

  test("rfmFold: chopped reaches the one-shot state; the last mark is the " +
      "one-shot snapshot") {
    val types = Gen.oneOf("purchase", "view", "click")
    val feedGen: Gen[List[Streams.AttrIn]] = for {
      n <- Gen.choose(0, 30)
      ts <- Gen.listOfN(n, Gen.choose(0L, 40L * 86400000L))
      tys <- Gen.listOfN(n, types)
      vs <- Gen.listOfN(n, Gen.choose(0L, 10000L))
    } yield ts.sorted.zip(tys).zip(vs).zipWithIndex.map {
      case (((t, ty), v), i) => Streams.AttrIn(i.toLong, 1L, ty, t, v)
    }
    samples(feedGen, 80, 5100L).foreach { feed =>
      val (s0, o0) = Streams.rfmFold(1L, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.RfmState] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.rfmFold(1L, st, batch)
          st = s1; o1
        }
        assert(st === s0, s"state diverged: $feed chopped $chop")
        // marks are superseding snapshots: the LAST chopped mark must be
        // the one-shot mark; intermediate marks are the extra (valid)
        // running prefixes a consumer overwrites
        assert(out.lastOption === o0.lastOption,
          s"final snapshot diverged: $feed chopped $chop")
      }
    }
  }

  test("ltvFold: chopped == one-shot on signup-first ordered feeds") {
    // arrival contract: the user's signup is their earliest event (a
    // same-day purchase arriving BEFORE any signup is the documented
    // in-batch-only allowance, so the chop-invariant feed class keeps
    // the signup first)
    val types = Gen.oneOf("purchase", "view", "signup")
    val feedGen: Gen[List[Streams.AttrIn]] = for {
      n <- Gen.choose(0, 30)
      t0 <- Gen.choose(0L, 5L * 86400000L)
      ts <- Gen.listOfN(n, Gen.choose(t0, t0 + 60L * 86400000L))
      tys <- Gen.listOfN(n, types)
      vs <- Gen.listOfN(n, Gen.choose(0L, 10000L))
    } yield Streams.AttrIn(0L, 1L, "signup", t0, 0L) ::
      ts.sorted.zip(tys).zip(vs).zipWithIndex.map {
        case (((t, ty), v), i) => Streams.AttrIn(i + 1L, 1L, ty, t, v)
      }
    samples(feedGen, 80, 5200L).foreach { feed =>
      val (s0, o0) = Streams.ltvFold(1L, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.LtvState] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.ltvFold(1L, st, batch)
          st = Some(s1); o1
        }
        assert(st.contains(s0) || (st.isEmpty && feed.isEmpty),
          s"state diverged: $feed chopped $chop")
        assert(out === o0, s"output diverged: $feed chopped $chop")
      }
    }
  }

  test("tombstone properties: a TTL-evicted user never re-emits new") {
    val dayGen = Gen.listOf(Gen.choose(0L, 40L * 86400000L))
    samples(dayGen, 120, 5300L).foreach { ts =>
      val evs = ts.sorted.map(t => Streams.EventIn(1L, "view", t))
      // activity: fold from the eviction tombstone — zero isNew marks
      val (as, ao) = Streams.activityFold(1L,
        Some(Streams.ActivityState(Seq.empty, everActive = true)), evs)
      assert(ao.forall(!_.isNew), s"post-eviction new mark: $evs -> $ao")
      assert(as.everActive)
      // growth: fold from a churned tombstone — no `new`, and the first
      // post-churn activity is exactly one `resurrected`
      val (gs, go) = Streams.growthFold(1L,
        Some(Streams.GrowthState(2L, churned = true)), evs)
      assert(!go.exists(_.kind == "new"), s"post-churn new mark: $evs -> $go")
      val fresh = evs.map(e => Math.floorDiv(e.tMs, 7L * 86400000L)).distinct
        .filter(_ > 2L)
      // the FIRST post-churn activity resurrects (later real gaps may
      // legitimately emit further churn/resurrect pairs)
      assert(go.headOption.map(_.kind) ===
        (if (fresh.nonEmpty) Some("resurrected") else None), s"$evs -> $go")
      if (fresh.isEmpty) assert(gs.churned, "tombstone persists until a return")
    }
  }

  test("scd2Fold: chopped == one-shot on lsn-ordered feeds") {
    val feedGen: Gen[List[Streams.ScdIn]] = for {
      n <- Gen.choose(0, 25)
      ops <- Gen.listOfN(n, Gen.frequency(
        4 -> Gen.const("insert"), 4 -> Gen.const("update"),
        2 -> Gen.const("delete")))
      svs <- Gen.listOfN(n, Gen.oneOf(true, false))
      sks <- Gen.listOfN(n, Gen.oneOf(true, false))
      vs <- Gen.listOfN(n, Gen.choose(0.0, 99.0))
      ks <- Gen.listOfN(n, Gen.choose(0L, 9L))
    } yield (0 until n).map { i =>
      val del = ops(i) == "delete"
      Streams.ScdIn("t0", "a", i + 1L, 10L * (i + 1), ops(i),
        setsVal = !del && svs(i), v = vs(i),
        setsK = !del && sks(i), kk = ks(i))
    }.toList
    samples(feedGen, 80, 6200L).foreach { feed =>
      val (s0, o0) = Streams.scd2Fold(None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.ScdState] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.scd2Fold(st, batch)
          st = s1.orElse(st); o1
        }
        assert(st === s0 || (st.isEmpty && feed.isEmpty),
          s"state diverged: $feed chopped $chop")
        assert(out === o0, s"output diverged: $feed chopped $chop")
      }
    }
  }

  test("transitionsFold: chopped == one-shot on (tMs, id)-ordered feeds") {
    val feedGen: Gen[List[(Long, String, Long)]] = for {
      n <- Gen.choose(0, 30)
      ts <- Gen.listOfN(n, Gen.choose(0L, 100L))
      tys <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    } yield ts.sorted.zipWithIndex.zip(tys)
      .map { case ((t, i), ty) => (i.toLong, ty, t) }
    samples(feedGen, 80, 4200L).foreach { feed =>
      val (s0, o0) = Streams.transitionsFold(1L, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.LastEvent] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.transitionsFold(1L, st, batch)
          st = s1; o1
        }
        assert(st === s0, s"state diverged: $feed chopped $chop")
        assert(out === o0, s"output diverged: $feed chopped $chop")
      }
    }
  }

  test("retentionFold: chopped == one-shot, and in-batch order free") {
    val feedGen: Gen[List[Streams.EventIn]] = for {
      n <- Gen.choose(0, 30)
      ts <- Gen.listOfN(n, Gen.choose(0L, 10L * 86400000L))
      tys <- Gen.listOfN(n, Gen.oneOf("signup", "view", "click"))
    } yield ts.sorted.zip(tys).map { case (t, ty) => Streams.EventIn(1L, ty, t) }
    samples(feedGen, 80, 4300L).foreach { feed =>
      val (s0, o0) = Streams.retentionFold(1L, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        var st: Option[Streams.RetentionState] = None
        val out = chop.flatMap { batch =>
          val (s1, o1) = Streams.retentionFold(1L, st, batch)
          st = Some(s1); o1
        }
        assert(st.contains(s0) || (st.isEmpty && feed.isEmpty))
        assert(out.sortBy(_.dayOffset) === o0.sortBy(_.dayOffset),
          s"marks diverged: $feed chopped $chop")
      }
      // retention is set-semantics WITHIN a batch: shuffling one batch
      // cannot change the mark set
      val rng = new scala.util.Random(feed.hashCode.toLong)
      val (sShuf, oShuf) = Streams.retentionFold(1L, None, rng.shuffle(feed))
      assert(sShuf === s0)
      assert(oShuf.sortBy(_.dayOffset) === o0.sortBy(_.dayOffset))
    }
  }

  test("applyFold: chopped == one-shot on lsn-ordered feeds; delete resets " +
      "the image and the version counter") {
    val key = ("t0", "a")
    val ops = Gen.oneOf("c", "u", "d")
    val feedGen: Gen[List[Streams.Event]] = for {
      n <- Gen.choose(0, 25)
      rows <- Gen.listOfN(n, for {
        op <- ops
        sv <- Gen.oneOf(true, false)
        v <- Gen.choose(0, 99)
        sk <- Gen.oneOf(true, false)
        k <- Gen.choose(0L, 99L)
      } yield (op, sv, v.toDouble, sk, k))
    } yield rows.zipWithIndex.map { case ((op, sv, v, sk, k), i) =>
      Streams.Event("tx", 0, 1, last = false, "t0", "a", op,
        setsVal = sv, if (sv) Some(v) else None,
        setsK = sk, if (sk) Some(k) else None,
        commitTs = i.toLong, lsn = i.toLong + 1)
    }
    samples(feedGen, 80, 8800L).foreach { feed =>
      val one = Streams.applyFold(key, None, feed)
      samples(chopsGen(feed), 3, feed.hashCode.toLong).foreach { chop =>
        // thread state exactly as applyStream does: a delete REMOVES the
        // state (the next batch folds from None), a live image carries
        var st: Option[Streams.RowState] = None
        var last: Option[Streams.RowState] = None
        chop.filter(_.nonEmpty).foreach { batch =>
          val next = Streams.applyFold(key, st, batch)
          st = if (next.deleted) None else Some(next)
          last = Some(next)
        }
        if (feed.nonEmpty)
          assert(last.contains(one), s"image diverged: $feed chopped $chop")
      }
      // a delete anywhere resets: fold past it never leaks the pre-delete k
      val delAt = feed.indexWhere(_.opCode == "d")
      if (delAt >= 0 && !feed.drop(delAt + 1).exists(_.setsK))
        assert(one.deleted || one.kV.isEmpty,
          s"k must not survive the delete: $feed -> $one")
    }
  }
}
