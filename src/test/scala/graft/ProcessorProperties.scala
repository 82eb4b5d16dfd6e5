package graft

import java.sql.Timestamp

import graft.streaming._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties of the pure stateful-processor cores (the
  * `advance` functions the keyed streaming stages run): the invariant a streaming operator owes the
  * batch world is SPLIT INVARIANCE — folding a sorted stream in one
  * batch or in any prefix/suffix split with carried state must produce
  * identical state and identical concatenated output. These run on the
  * raw functions, no SparkSession.
  */
object ProcessorProperties extends Properties("graft.processors") {

  private val T0 = 1704067200000L // 2024-01-01 00:00:00 UTC

  private def alert(id: Long, tsMillis: Long): AnomalyAlert =
    AnomalyAlert(id, "web", new Timestamp(tsMillis), 200.0, 50, 50, 5, 50, 3,
                 5.0, 5.0, is_anomaly = true, "critical", "z-score")

  private def event(id: Long, tsMillis: Long, v: Double): Event =
    Event(id, new Timestamp(tsMillis), 1L, "web", v)

  /** Sorted event stream: cumulative gaps of 0..120 s. */
  private val genEvents: Gen[List[Event]] = for {
    gaps <- Gen.nonEmptyListOf(Gen.choose(0L, 120000L))
    vals <- Gen.listOfN(gaps.size, Gen.choose(1, 10000).map(_ / 100.0))
  } yield {
    val ts = gaps.scanLeft(T0)(_ + _).tail
    ts.lazyZip(vals).lazyZip(1 to ts.size).map {
      case (t, v, i) => event(i.toLong, t, v)
    }.toList
  }

  /** Sorted alert stream: cumulative gaps of 0..8 min (straddling the
    * 5-minute cooldown).
    */
  private val genAlerts: Gen[List[AnomalyAlert]] = for {
    gaps <- Gen.nonEmptyListOf(Gen.choose(0L, 480000L))
  } yield gaps.scanLeft(T0)(_ + _).tail.zipWithIndex.map {
    case (t, i) => alert(i.toLong + 1, t)
  }

  private val genSplit: Gen[Double] = Gen.choose(0.0, 1.0)

  private def splitAt[A](xs: List[A], f: Double): (List[A], List[A]) =
    xs.splitAt((xs.size * f).toInt)

  property("cooldown: no two fired alerts within the cooldown window") =
    forAll(genAlerts) { alerts =>
      val (_, fired) = CooldownProcessor.advance(None, alerts.iterator)
      fired.map(_.ts.getTime).sliding(2).forall {
        case Seq(a, b) => b - a >= CooldownProcessor.CooldownMillis
        case _         => true
      }
    }

  property("cooldown: batch-split ≡ single batch (state carries)") =
    forAll(genAlerts, genSplit) { (alerts, f) =>
      val (a, b) = splitAt(alerts, f)
      val (s1, f1) = CooldownProcessor.advance(None, a.iterator)
      val (s2, f2) = CooldownProcessor.advance(s1, b.iterator)
      val (sw, fw) = CooldownProcessor.advance(None, alerts.iterator)
      s2 == sw && (f1 ++ f2) == fw
    }

  property("ewma: batch-split ≡ single batch on ordered input") =
    forAll(genEvents, genSplit) { (events, f) =>
      val (a, b) = splitAt(events, f)
      val split = EwmaProcessor.advance(
        EwmaProcessor.advance(EwmaProcessor.EmptyState, a.iterator), b.iterator)
      val whole = EwmaProcessor.advance(EwmaProcessor.EmptyState, events.iterator)
      split == whole &&
        EwmaProcessor.emit("web", split).toList ==
          EwmaProcessor.emit("web", whole).toList
    }

  property("cusum: batch-split ≡ single batch on ordered input") =
    forAll(genEvents, genSplit) { (events, f) =>
      val bl = Map("web" -> (5000.0, 1500.0))
      val (a, b) = splitAt(events, f)
      val split = CusumProcessor.advance(
        bl, "web",
        CusumProcessor.advance(bl, "web", CusumProcessor.EmptyState,
                               a.iterator),
        b.iterator)
      val whole = CusumProcessor.advance(bl, "web",
                                         CusumProcessor.EmptyState,
                                         events.iterator)
      split == whole &&
        CusumProcessor.emit(bl, "web", split).toList ==
          CusumProcessor.emit(bl, "web", whole).toList
    }

  property("cusum: shift counters are monotone under more data") =
    forAll(genEvents, genSplit) { (events, f) =>
      val bl = Map("web" -> (5000.0, 1500.0))
      val (a, b) = splitAt(events, f)
      val s1 = CusumProcessor.advance(bl, "web", CusumProcessor.EmptyState,
                                      a.iterator)
      val s2 = CusumProcessor.advance(bl, "web", s1, b.iterator)
      s2.nh >= s1.nh && s2.nl >= s1.nl && s2.nCompleted >= s1.nCompleted
    }

  property("ewma: emitted level lies within the bucket-average envelope") =
    forAll(genEvents) { events =>
      val s = EwmaProcessor.advance(EwmaProcessor.EmptyState, events.iterator)
      EwmaProcessor.emit("web", s).forall { l =>
        val vs = events.map(_.value)
        l.ewma_value >= vs.min - 1e-6 && l.ewma_value <= vs.max + 1e-6
      }
    }

  /** Event stream with gaps that straddle the 30-minute session gap. */
  private val genSessionEvents: Gen[List[Event]] = for {
    gaps <- Gen.nonEmptyListOf(Gen.frequency(
      4 -> Gen.choose(0L, 25 * 60000L),   // within-session
      1 -> Gen.choose(31 * 60000L, 90 * 60000L))) // session break
    vals <- Gen.listOfN(gaps.size, Gen.choose(1, 10000).map(_ / 100.0))
  } yield {
    val ts = gaps.scanLeft(T0)(_ + _).tail
    ts.lazyZip(vals).lazyZip(1 to ts.size).map {
      case (t, v, i) => event(i.toLong, t, v)
    }.toList
  }

  property("sessions: batch-split ≡ single batch; closed sessions well-formed") =
    forAll(genSessionEvents, genSplit) { (events, f) =>
      val (a, b) = splitAt(events, f)
      val (s1, c1) = SessionStatefulProcessor.advance(1L, None, a.iterator)
      val (s2, c2) = SessionStatefulProcessor.advance(1L, s1, b.iterator)
      val (sw, cw) = SessionStatefulProcessor.advance(1L, None, events.iterator)
      val closed = c1 ++ c2
      val eventTs = events.map(_.ts.getTime).toSet
      val gap = SessionStatefulProcessor.GapMillis
      val gapOk = cw.forall { s =>
        // bounds are REAL event instants: end − gap is the session's
        // last event, start its first
        eventTs.contains(s.session_end.getTime - gap) &&
          eventTs.contains(s.session_start.getTime) &&
          s.session_end.getTime - gap >= s.session_start.getTime
      }
      // sessions split ONLY on gap: consecutive closed sessions are
      // separated by more than the gap
      val splitsOk = cw.sortBy(_.session_start.getTime).sliding(2).forall {
        case Seq(x, y) =>
          y.session_start.getTime - (x.session_end.getTime - gap) > gap
        case _ => true
      }
      val accounted = cw.map(_.n_events).sum +
        sw.map(_.n).getOrElse(0L) == events.size.toLong
      s2 == sw && closed == cw && gapOk && splitsOk && accounted
    }

  property("sessions: in-slack earlier event extends the open session backwards") =
    forAll(genSessionEvents) { events =>
      val (s1, _) = SessionStatefulProcessor.advance(1L, None, events.iterator)
      s1.forall { st =>
        // a late-but-in-watermark event 5 s before the session's last —
        // possibly before its START for single-event sessions (state is
        // micro-exact; the generated instants are whole millis)
        val tMicros = st.lastMicros - 5000000L
        val late = event(9999L, tMicros / 1000L, 1.0)
        val (s2, c2) = SessionStatefulProcessor.advance(1L, s1, Iterator(late))
        c2.isEmpty && s2.exists { n =>
          n.startMicros == math.min(st.startMicros, tMicros) && n.n == st.n + 1
        }
      }
    }

  /** Random funnel-step sequence: (µs timestamp, step ∈ {1,2,3}) with
    * gaps straddling the 7-day window so both admitted and expired
    * chains occur.
    */
  private val genFunnelSeq: Gen[List[(Long, Int)]] = for {
    gaps <- Gen.nonEmptyListOf(Gen.choose(0L, 4L * 86400000000L))
    steps <- Gen.listOfN(gaps.size, Gen.choose(1, 3))
  } yield gaps.scanLeft(T0 * 1000L)(_ + _).tail.zip(steps)

  /** Brute-force specification of the windowed funnel: deepest chain =
    * max over all strictly-index-increasing step-1..k selections with
    * every member within the window of the chain's FIRST event. The
    * 3-slot latest-chain-start fold must agree on EVERY sequence — this
    * is the dominance lemma ("latest start admits every continuation an
    * older one would") checked against an independent specification,
    * not against itself.
    */
  property("funnel fold ≡ brute-force deepest-chain search") =
    forAll(genFunnelSeq) { seq =>
      val w = FunnelProgress.WindowMicros
      val folded = seq.foldLeft(
        (FunnelProgress.Sentinel, FunnelProgress.Sentinel,
         FunnelProgress.Sentinel)) { case (acc, (us, st)) =>
        FunnelProgress.advance(acc, us, st)
      }
      val idx = seq.zipWithIndex
      val views = idx.filter(_._1._2 == 1)
      def depth3 = views.exists { case ((t1, _), i) =>
        idx.exists { case ((t2, s2), j) =>
          s2 == 2 && j > i && t2 - t1 <= w &&
            idx.exists { case ((t3, s3), k) =>
              s3 == 3 && k > j && t3 - t1 <= w
            }
        }
      }
      def depth2 = views.exists { case ((t1, _), i) =>
        idx.exists { case ((t2, s2), j) => s2 == 2 && j > i && t2 - t1 <= w }
      }
      val brute =
        if (depth3) 3 else if (depth2) 2 else if (views.nonEmpty) 1 else 0
      FunnelProgress.depthOf(folded) == brute
    }

  /** Adversarial flood: hundreds of funnel events with mostly-zero or
    * tiny timestamp gaps (same-µs bot bursts) and skewed step mix —
    * the shape the window_funnel hot-user cap defends against.
    */
  private val genFloodSeq: Gen[List[(Long, Int)]] = for {
    n <- Gen.choose(50, 400)
    gaps <- Gen.listOfN(n, Gen.frequency(
      4 -> Gen.const(0L),
      3 -> Gen.choose(1L, 1000000L),
      1 -> Gen.choose(0L, 8L * 86400000000L)))
    steps <- Gen.listOfN(n, Gen.frequency(
      2 -> Gen.const(1), 2 -> Gen.const(2), 1 -> Gen.const(3)))
  } yield gaps.scanLeft(T0 * 1000L)(_ + _).tail.zip(steps)

  /** Independent brute-force depth: deepest strictly-index-increasing
    * 1..k selection with every member inside the window of the chain's
    * FIRST event — the same specification the main fold property uses.
    */
  private def bruteDepth(seq: List[(Long, Int)]): Int = {
    val w = FunnelProgress.WindowMicros
    val idx = seq.zipWithIndex
    val views = idx.filter(_._1._2 == 1)
    def depth3 = views.exists { case ((t1, _), i) =>
      idx.exists { case ((t2, s2), j) =>
        s2 == 2 && j > i && t2 - t1 <= w &&
          idx.exists { case ((t3, s3), k) =>
            s3 == 3 && k > j && t3 - t1 <= w
          }
      }
    }
    def depth2 = views.exists { case ((t1, _), i) =>
      idx.exists { case ((t2, s2), j) => s2 == 2 && j > i && t2 - t1 <= w }
    }
    if (depth3) 3 else if (depth2) 2 else if (views.nonEmpty) 1 else 0
  }

  property("capped funnel (latest-N suffix) ≡ brute force under floods") =
    forAll(genFloodSeq, Gen.oneOf(1, 8, 64)) { (seq, cap) =>
      // the operator's hot-user guard folds only the LATEST `cap`
      // events in (ts, id) order; the fold over that suffix must still
      // agree with the independent brute-force matcher ON THE SUFFIX —
      // i.e. truncation composes with the dominance lemma, including
      // same-µs bursts where only the id order separates events
      val kept = seq.takeRight(cap)
      val folded = kept.foldLeft(
        (FunnelProgress.Sentinel, FunnelProgress.Sentinel,
         FunnelProgress.Sentinel)) { case (acc, (us, st)) =>
        FunnelProgress.advance(acc, us, st)
      }
      FunnelProgress.depthOf(folded) == bruteDepth(kept)
    }

  property("funnel fold is split-invariant with carried state") =
    forAll(genFunnelSeq, genSplit) { (seq, f) =>
      val n = (seq.size * f).toInt.min(seq.size)
      val (a, b) = seq.splitAt(n)
      val zero = (FunnelProgress.Sentinel, FunnelProgress.Sentinel,
        FunnelProgress.Sentinel)
      def fold(z: (Long, Long, Long), s: List[(Long, Int)]) =
        s.foldLeft(z) { case (acc, (us, st)) =>
          FunnelProgress.advance(acc, us, st)
        }
      fold(fold(zero, a), b) == fold(zero, seq)
    }

  property("user snapshot fold: permutation- AND split-invariant (OOO-safe)") =
    // the algebraic fact the stream_ooo_snapshot_drain gate rests on:
    // count / exact micro-unit sum / max-µs last-seen is a commutative
    // monoid, so ANY arrival order across ANY batch split — including a
    // row arriving a batch behind its event-time peers, the
    // admissible-late case the OOO staging replays — folds to the same
    // snapshot as the sorted single batch
    forAll(genEvents, genSplit, Gen.choose(Long.MinValue, Long.MaxValue)) {
      (events, f, seed) =>
        val shuffled = new scala.util.Random(seed).shuffle(events)
        val (a, b) = splitAt(shuffled, f)
        val s1 = UserSnapshotFold.fold(1L, UserSnapshotFold.empty(1L),
                                       a.iterator)
        val s2 = UserSnapshotFold.fold(1L, s1, b.iterator)
        s2 == UserSnapshotFold.fold(1L, UserSnapshotFold.empty(1L),
                                    events.iterator)
    }

  property("transitions: n−1 pairs, chain-linked, split-invariant") =
    forAll(genEvents, genSplit) { (events, f) =>
      val (a, b) = splitAt(events, f)
      val (s1, t1) = TransitionProcessor.advance(1L, None, a.iterator)
      val (s2, t2) = TransitionProcessor.advance(1L, s1, b.iterator)
      val (sw, tw) = TransitionProcessor.advance(1L, None, events.iterator)
      s2 == sw && (t1 ++ t2) == tw && tw.size == events.size - 1 &&
        tw.zip(tw.drop(1)).forall { case (x, y) => x.next_type == y.prev_type }
    }

  /** Bucket arrivals with duplicates, sized to straddle the MaxBucket
    * poisoning bound.
    */
  private val genBucketDocs: Gen[List[Long]] = for {
    n <- Gen.choose(1, 2 * graft.operators.DedupOps.MaxBucket)
    ids <- Gen.listOfN(n, Gen.choose(0L, 400L))
  } yield ids

  property("lsh buckets: split-invariant exact-once pairs under the cap") =
    forAll(genBucketDocs, genSplit) { (ids, f) =>
      import graft.operators.DedupOps.MaxBucket
      val rows = ids.map(d => BandKeyRow(d, 0, "h"))
      val (a, b) = splitAt(rows, f)
      val (m1, p1) = LshBucketFold.step(Vector.empty, a.iterator)
      val (m2, p2) = LshBucketFold.step(m1, b.iterator)
      val (mw, pw) = LshBucketFold.step(Vector.empty, rows.iterator)
      val admitted = ids.distinct.take(MaxBucket)
      // a pair is emitted when its LATER member is admitted, against
      // every current member in admission order: ordered by (j, i)
      val expected = (for {
        j <- admitted.indices; i <- 0 until j
      } yield (math.min(admitted(i), admitted(j)),
               math.max(admitted(i), admitted(j)))).toList
      (m1 ++ m2) == mw &&
        (p1 ++ p2) == pw &&
        mw == admitted.toVector &&
        pw.map(p => (p.doc1, p.doc2)).toList == expected
    }
}
