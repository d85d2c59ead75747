package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom keyed state over streams via flatMapGroupsWithState — the
  * escape hatch for semantics the built-in windowed aggregations can't
  * express. State lives in the state store (checkpointed, partitioned by
  * key), so these scale with the key cardinality across executors, not
  * with stream length.
  *
  * Each operator is one per-key [[Step]], run by [[keyed]]. Most have an
  * event-time-TTL twin (`...Ttl`) that runs the SAME step with a
  * [[Horizon]]: its state is EVICTED past the horizon, so at unbounded
  * key cardinality memory scales with the ACTIVE window, not history
  * (equality-inside-horizon + observed numRowsTotal drops are pinned in
  * StatefulTtlSpec under both state-store providers). `runningCounts`,
  * `videoDhashDedupStream` and `semanticDropStream` have no TTL twin;
  * `rollingZscoreStreamTtl` and `scd2StreamTtl` exist only in TTL form.
  *
  * Spark 4's `transformWithState` has built-in state TTL, but it counts
  * PROCESSING time: what is evicted would depend on how long each
  * micro-batch took, and the st replay gates, which must give the same
  * rows on every run, could not pin it. An event-time timeout fires from
  * the watermark, which the replay's own feed determines.
  */
object StatefulOps {

  /** One operator's per-key step: (key, this batch's rows for the key,
    * prior state) => (the next state when it changed, output rows). */
  private type Step[K, R, S, O] = (K, Iterator[R], Option[S]) => (Option[S], Iterator[O])

  /** Event-time eviction for [[keyed]]: watermark `column` and `delay`,
    * the horizon, and the row's event time (the value in `column`). */
  private final case class Horizon[R](column: String, delay: String, horizonMs: Long,
                                      eventTime: R => Timestamp) {
    require(horizonMs > 0, s"horizonMs must be positive, got $horizonMs")
  }

  /** `step` over a projection of the rows: a TTL twin's rows without
    * their event-time column. */
  private def on[K, R, U, S, O](f: R => U)(step: Step[K, U, S, O]): Step[K, R, S, O] =
    (key, it, prior) => step(key, it.map(f), prior)

  /** The keyed-state runner every operator goes through. Without a
    * horizon: `NoTimeout`, and the step's next state, when it returns
    * one, is written.
    *
    * With a horizon, rows are watermarked on its column, state is
    * (step state, lease) and the timeout is `EventTimeTimeout`:
    *  - a key whose timeout fires has its state REMOVED and emits
    *    nothing; a key seen again later starts from no state (the
    *    declared horizon semantics, not state loss);
    *  - the lease is the latest event time seen for the key, never
    *    decreasing, so a displaced late arrival cannot shorten an
    *    already-armed timeout;
    *  - state is written only when the step state or the lease changed;
    *  - the timeout is max(lease + horizon, watermark + 1): it must sit
    *    strictly past the current watermark or Spark rejects it, so a
    *    key whose horizon already passed gets the earliest legal
    *    eviction point.
    * Two standard watermark caveats: rows whose event time trails the
    * watermark are late-DROPPED before the step (size the delay to the
    * expected disorder), and eviction is lazy — Spark fires the timeout
    * only for keys WITHOUT data in a batch, so a key touched in the batch
    * its horizon passes survives until a quiet batch (the TTL bounds
    * state; it is not an exactly-the-horizon filter).
    */
  private def keyed[R, K: Encoder, S: Encoder, O: Encoder](rows: Dataset[R])(
      key: R => K, mode: OutputMode, horizon: Option[Horizon[R]] = None)(
      step: Step[K, R, S, O]): Dataset[O] = horizon match {
    case None =>
      rows.groupByKey(key).flatMapGroupsWithState[S, O](mode, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[R], state: GroupState[S]) =>
          val (next, out) = step(k, it, state.getOption)
          next.foreach(state.update)
          out
      }
    case Some(h) =>
      implicit val leased: Encoder[(S, Long)] = Encoders.tuple(implicitly[Encoder[S]], Encoders.scalaLong)
      rows.withWatermark(h.column, h.delay).groupByKey(key)
        .flatMapGroupsWithState[(S, Long), O](mode, GroupStateTimeout.EventTimeTimeout) {
          (k: K, it: Iterator[R], state: GroupState[(S, Long)]) =>
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              val batch = it.toSeq
              val prior = state.getOption
              val lease = math.max(prior.fold(Long.MinValue)(_._2),
                batch.iterator.map(h.eventTime(_).getTime).max)
              val (next, out) = step(k, batch.iterator, prior.map(_._1))
              if (next.isDefined || !prior.exists(_._2 == lease))
                next.orElse(prior.map(_._1)).foreach(s => state.update((s, lease)))
              state.setTimeoutTimestamp(math.max(lease + h.horizonMs, state.getCurrentWatermarkMs() + 1))
              out
            }
        }
  }

  /** Running per-key event count, maintained across micro-batches
    * (Update mode). */
  def runningCounts(events: Dataset[(Long, Double)]): Dataset[(Long, Long)] = {
    implicit val outEnc: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Update()) {
      (key: Long, it: Iterator[(Long, Double)], prior: Option[Long]) =>
        val n = prior.getOrElse(0L) + it.size
        (Some(n), Iterator.single((key, n)))
    }
  }

  /** Keeps the record with the highest version, the incumbent on a tie;
    * emits it only when it changes. A batch of purely stale records
    * would otherwise cost a state write and a spurious Update row per
    * touched key — changelog amplification a CDC sink downstream would
    * observe. */
  private def latestStep[K, T](version: T => Long): Step[K, T, T, T] = (_, it, incumbent) => {
    var best = incumbent
    it.foreach { t =>
      if (best.forall(b => version(t) > version(b))) best = Some(t)
    }
    if (best != incumbent) (best, best.iterator) else (None, Iterator.empty)
  }

  /** Streaming upsert compaction (the stream half of
    * [[graft.operators.Upsert.latestByKey]]): per key, emit the current
    * LATEST record each micro-batch that touches the key, carrying the
    * winner across batches in keyed state (Update mode). `version`
    * orders records; the first-observed record wins a version tie (the
    * incumbent is kept), so feed a strictly-increasing version (e.g.
    * event time + a unique sequence) for deterministic results.
    * Downstream, the update stream materializes a current-state
    * table — classic CDC view maintenance.
    *
    * State is one record per key in the partitioned state store: memory
    * scales with key cardinality across executors, never with stream
    * length.
    */
  def latestByKeyStream[K: Encoder, T: Encoder](events: Dataset[T])(
      key: T => K, version: T => Long): Dataset[T] =
    keyed(events)(key, OutputMode.Update())(latestStep[K, T](version))

  /** [[latestByKeyStream]] with event-time state eviction — the
    * production form for UNBOUNDED key domains (a CDC compaction over an
    * open-ended entity space otherwise keeps one incumbent per key
    * forever). A key idle past `horizonMs` has its incumbent REMOVED:
    * the entity is considered closed, and a record arriving after the
    * horizon starts a fresh version lineage — so a LOWER version
    * re-arriving post-eviction is accepted as the new incumbent (the
    * memory/recall trade stated rather than hidden, the
    * [[firstByKeyStreamTtl]] contract). Inside the horizon, identical to
    * the untimed form (same step, spec-pinned, both state-store
    * providers). Rows: (key, version, ts); emits (key, version) when the
    * incumbent IMPROVES (Update mode, emit-on-change; a lease refresh on
    * a stale batch is a state write but never an emission). Eviction
    * and watermark caveats as in [[keyed]].
    *
    * State is ((key, version), lease); before the shared runner it was
    * (version, lease), so a query restarted from a checkpoint written by
    * that form fails Spark's state-schema check.
    */
  def latestByKeyStreamTtl(events: Dataset[(String, Long, Timestamp)],
                           delayThreshold: String,
                           horizonMs: Long): Dataset[(String, Long)] = {
    implicit val outEnc: Encoder[(String, Long)] = Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    keyed(events)(_._1, OutputMode.Update(), Some(Horizon("_3", delayThreshold, horizonMs, _._3)))(
      on((r: (String, Long, Timestamp)) => (r._1, r._2))(latestStep[String, (String, Long)](_._2)))
  }

  /** Admits the first batch's `pick`-reduced row per key; the seen-bit
    * drops every later one. */
  private def firstStep[K, T](pick: (T, T) => T): Step[K, T, Boolean, T] = (_, it, seen) =>
    if (seen.isDefined) (None, Iterator.empty) else (Some(true), Iterator.single(it.reduce(pick)))

  /** First-occurrence admission per key — exact dedup ON INGEST, the
    * A4 transformer-drop convention as keyed state (st18's text
    * branch): the first batch that touches a key emits ONE row —
    * `pick`-reduced over that batch's rows for the key, so the
    * within-batch winner is deterministic whatever the iterator order —
    * and every later row of the key is dropped. Across batches this is
    * first-ARRIVAL semantics (Append mode cannot retract); feeding
    * key-ordered batches makes it equal the batch MIN-per-key rule,
    * which is the replay harness's convention (and on real ingest,
    * "first crawl wins" IS the production dedup contract). State is one
    * boolean per key — memory scales with key cardinality, never
    * stream length. */
  def firstByKeyStream[K: Encoder, T: Encoder](events: Dataset[T])(
      key: T => K, pick: (T, T) => T): Dataset[T] = {
    implicit val stEnc: Encoder[Boolean] = Encoders.scalaBoolean
    keyed(events)(key, OutputMode.Append())(firstStep[K, T](pick))
  }

  /** [[firstByKeyStream]] with event-time state eviction — the
    * production form for UNBOUNDED key domains (a crawl's text corpus:
    * one seen-bit per distinct text forever is exactly the state leak
    * the TTL family exists for). A key idle past `horizonMs` has its
    * seen-bit REMOVED, so the same text re-arriving after the horizon
    * is re-admitted — the standard bounded-state dedup semantics
    * ([[StreamingOps.dedupWithinWatermark]]'s contract): exactly-once
    * per ACTIVITY WINDOW, the memory/recall trade stated rather than
    * hidden. Inside the horizon, identical to [[firstByKeyStream]]
    * (same step, spec-pinned, both state-store providers). Rows: (id,
    * key, ts); emits winners (id, key); within-batch winner = min id.
    * Eviction and watermark caveats as in [[keyed]].
    *
    * State is (seen-bit, lease); before the shared runner it was the
    * lease alone, so a query restarted from a checkpoint written by that
    * form fails Spark's state-schema check.
    */
  def firstByKeyStreamTtl(events: Dataset[(Long, String, Timestamp)],
                          delayThreshold: String,
                          horizonMs: Long): Dataset[(Long, String)] = {
    implicit val outEnc: Encoder[(Long, String)] = Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    implicit val stEnc: Encoder[Boolean] = Encoders.scalaBoolean
    keyed(events)(_._2, OutputMode.Append(), Some(Horizon("_3", delayThreshold, horizonMs, _._3)))(
      on((r: (Long, String, Timestamp)) => (r._1, r._2))(
        firstStep[String, (Long, String)]((a, b) => if (b._1 < a._1) b else a)))
  }

  /** The k smallest distinct ids per key, versioned; emits on change. */
  private def smallestKStep(k: Int): Step[Long, (Long, Long), (Long, Seq[Long]), (Long, Long, Seq[Long])] = {
    require(k >= 1, s"k must be >= 1, got $k")
    (key, it, prior) => {
      val (ver, cur) = prior.getOrElse((0L, Seq.empty[Long]))
      val merged = (cur ++ it.map(_._2)).distinct.sorted.take(k)
      if (merged == cur) (None, Iterator.empty)
      else (Some((ver + 1, merged)), Iterator.single((key, ver + 1, merged)))
    }
  }

  private def smallestKEncoders: (Encoder[(Long, Long, Seq[Long])], Encoder[(Long, Seq[Long])]) =
    (ExpressionEncoder(), ExpressionEncoder())

  /** Deterministic bounded admission — the determinism-first variant of
    * [[rateLimit]]: per key, the k SMALLEST ids win across the whole
    * stream, whatever order they arrive in. Append mode cannot retract an
    * emission, so first-come admission is the best an Append operator
    * can do; this operator instead maintains the current winning set in
    * keyed state and emits an UPDATE-mode changelog row (key, version,
    * admitted-ids) whenever the set improves. The FINAL set per key is
    * arrival-order-invariant and equals the batch `ROW_NUMBER() <= k`
    * answer — a full-row-set oracle, not just a count.
    *
    * The changelog can only improve: the set grows toward size k, and
    * once full any change strictly decreases its maximum (the evicted
    * ids are always the largest of the superset) — an invariant the
    * replay harness asserts per key, which catches state loss (the set
    * would shrink or regress) and version skew.
    *
    * State per key is O(k) in the partitioned state store; memory
    * scales with key cardinality, never stream length.
    */
  def smallestKByKey(events: Dataset[(Long, Long)], k: Int): Dataset[(Long, Long, Seq[Long])] = {
    implicit val (outEnc, stEnc) = smallestKEncoders
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Update())(smallestKStep(k))
  }

  /** [[smallestKByKey]] with event-time state eviction: a key idle past
    * `horizonMs` has its winning set REMOVED; if the key re-appears it
    * competes fresh (the admitted set is per activity window). Inside
    * the horizon, identical to [[smallestKByKey]] including the
    * monotone-changelog invariant (same step, spec-pinned). Input rows
    * carry the event-time Timestamp in `_3`.
    *
    * State is ((version, set), lease); before the shared runner it was
    * (version, set, lease), so a query restarted from a checkpoint
    * written by that form fails Spark's state-schema check.
    */
  def smallestKByKeyTtl(events: Dataset[(Long, Long, Timestamp)], k: Int,
                        delayThreshold: String,
                        horizonMs: Long): Dataset[(Long, Long, Seq[Long])] = {
    implicit val (outEnc, stEnc) = smallestKEncoders
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Update(), Some(Horizon("_3", delayThreshold, horizonMs, _._3)))(
      on((r: (Long, Long, Timestamp)) => (r._1, r._2))(smallestKStep(k)))
  }

  private val Undef = Long.MaxValue

  /** One funnel state transition over (user, tsMicros, stageIdx) rows:
    * state (times, frontiers) changes when either does; emits the
    * user's deepest stage on first touch and whenever a time moves. */
  private def funnelStep(nStages: Int)
      : Step[Long, (Long, Long, Int), (Seq[Long], Seq[Seq[Long]]), (Long, Int)] = {
    require(nStages >= 1, s"funnel needs at least one stage, got $nStages")
    (user, batch, prior) => {
      val first = prior.isEmpty
      val (times0, cands0) = prior.getOrElse(
        (Seq.fill(nStages)(Undef), Seq.fill(nStages)(Seq.empty[Long])))
      val times = times0.toArray
      val cands = cands0.map(s => scala.collection.mutable.ArrayBuffer(s: _*))
      var candsChanged = false
      batch.foreach { case (_, ts, k) =>
        if (k >= 0 && k < nStages) {
          if (k == 0) { if (ts < times(0)) times(0) = ts }
          else if (ts < times(k)) { cands(k) += ts; candsChanged = true }
        }
      }
      var k = 1
      while (k < nStages) {
        if (times(k - 1) != Undef) {
          val qual = cands(k).filter(_ > times(k - 1))
          if (qual.nonEmpty && qual.min < times(k)) times(k) = qual.min
        }
        val kept = cands(k).filter(_ < times(k))
        if (kept.size != cands(k).size) { candsChanged = true }
        cands(k).clear(); cands(k) ++= kept
        k += 1
      }
      val timesChanged = times.indices.exists(i => times(i) != times0(i))
      val next = if (first || timesChanged || candsChanged) Some((times.toSeq, cands.map(_.toSeq))) else None
      val emit = if (first || timesChanged) Iterator.single((user, times.lastIndexWhere(_ != Undef) + 1))
        else Iterator.empty
      (next, emit)
    }
  }

  private def funnelEncoders: (Encoder[(Long, Int)], Encoder[(Seq[Long], Seq[Seq[Long]])]) =
    (Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt), ExpressionEncoder())

  /** Streaming ordered-funnel progression — the stream half of
    * [[graft.operators.Funnel]]: per user, maintain the earliest
    * completion time of each funnel stage under the strictly-after rule
    * (t_k = min stage-k time > t_{k-1}) EXACTLY, under ANY arrival
    * order across micro-batches. Input rows are (user, tsMicros,
    * stageIdx) with stageIdx in [0, nStages) for funnel events and a
    * negative index for everything else (non-funnel events register the
    * user at stage 0 — the same universe as the batch oracle's DISTINCT
    * user set). Emits (user, deepestStageReached) on first touch and
    * whenever it improves (Update mode, emit-on-change).
    *
    * Exactness under out-of-order arrival is the hard part: a LATE
    * stage-(k-1) event can lower t_{k-1}, which newly qualifies
    * stage-k events that were useless when they arrived — so the state
    * keeps, per stage k >= 1, the pruned candidate frontier
    * {c : c < current t_k} (a candidate >= t_k can never win because
    * t_k is monotone non-increasing as information only accumulates),
    * and every touch re-runs the stage cascade; one forward pass
    * reaches the fixpoint because t_k depends only on t_{k-1} and the
    * stage's own frontier. Stage 0 needs no frontier — its min is
    * unconditional.
    *
    * State per user = nStages times + the frontiers. Frontiers are
    * capped by their stage's current winner, so they collapse once the
    * funnel progresses; a user who never completes stage k-1
    * accumulates stage-k candidates, which [[funnelStreamTtl]] bounds
    * with an event-time timeout (funnel abandonment IS a timeout) — the
    * replay harness keeps full exactness instead.
    */
  def funnelStream(events: Dataset[(Long, Long, Int)],
                   nStages: Int): Dataset[(Long, Int)] = {
    implicit val (outEnc, stEnc) = funnelEncoders
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Update())(funnelStep(nStages))
  }

  /** [[funnelStream]] with event-time state eviction — the funnel
    * abandonment window made real. Input rows carry an event-time
    * Timestamp column (`_4`) that drives the watermark
    * (`delayThreshold`); a user whose last event is more than
    * `horizonMs` behind the watermark has their keyed state REMOVED
    * (an abandoned user's deepest stage was already emitted on every
    * improvement, so eviction emits nothing). A user re-appearing after
    * eviction starts a fresh funnel: that is the declared horizon
    * semantics, not state loss.
    *
    * Inside the horizon the output is IDENTICAL to [[funnelStream]]
    * (same step, spec-pinned); the difference is that
    * `stateOperators.numRowsTotal` now FALLS as users age out instead
    * of growing with lifetime key cardinality — the property that
    * separates a streaming operator from a slow memory leak at 100 TB.
    * Eviction and watermark caveats as in [[keyed]].
    *
    * State is ((times, frontiers), lease); before the shared runner it
    * was (times, frontiers, lease), so a query restarted from a
    * checkpoint written by that form fails Spark's state-schema check.
    */
  def funnelStreamTtl(events: Dataset[(Long, Long, Int, Timestamp)],
                      nStages: Int,
                      delayThreshold: String,
                      horizonMs: Long): Dataset[(Long, Int)] = {
    implicit val (outEnc, stEnc) = funnelEncoders
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Update(), Some(Horizon("_4", delayThreshold, horizonMs, _._4)))(
      on((r: (Long, Long, Int, Timestamp)) => (r._1, r._2, r._3))(funnelStep(nStages)))
  }

  /** Streaming rolling z-score anomaly detection — the stream twin of
    * [[graft.operators.TimeSeries.rollingZscore]] (ts04), flagging on
    * ingest, built TTL-FIRST (EventTimeTimeout from day one: no new
    * stateful operator ships with unbounded keyed state).
    *
    * Same exact-integer test as the batch form: with trailing moments
    * n, s, ss over the per-key ring of the last `window` values,
    * |z| > T ⇔ (v·n − s)² > T²·(n·ss − s²) — no FP anywhere, so the
    * streamed flags are bitwise identical to the batch operator's
    * WHEN the per-key apply order matches. Order contract (documented,
    * weaker than the funnel family's): a positional rolling window is
    * inherently ORDER-SENSITIVE, so rows apply in (ts, event_id) order
    * WITHIN each micro-batch (sorted here — groupByKey iterators
    * carry no order) and in arrival order across batches; an
    * out-of-order arrival across batches legitimately yields a
    * different trailing baseline than the batch sort. The replay gate
    * feeds in order and must equal the ts04 oracle exactly; a
    * production deployment tolerating cross-batch disorder would
    * buffer-and-sort behind the watermark first.
    *
    * State per key = (the ring of ≤ `window` longs, the lease): bounded
    * per key by construction, bounded across keys by the event-time
    * timeout of [[keyed]] (observed in StatefulTtlSpec, not claimed).
    *
    * @param events (key, event_id, units, ts)
    * @return flagged rows (key, event_id, units, base_n, zsq_centi)
    */
  def rollingZscoreStreamTtl(
      events: Dataset[(Long, Long, Long, Timestamp)],
      window: Int, minBaseline: Int, threshold: Int,
      delayThreshold: String, horizonMs: Long): Dataset[(Long, Long, Long, Long, Long)] = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(minBaseline >= 2 && minBaseline <= window,
      s"minBaseline must be in [2, window], got $minBaseline")
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    implicit val outEnc: Encoder[(Long, Long, Long, Long, Long)] = ExpressionEncoder()
    implicit val stEnc: Encoder[Seq[Long]] = ExpressionEncoder()
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val t2 = threshold.toLong * threshold
    keyed(events)(_._1, OutputMode.Update(), Some(Horizon("_4", delayThreshold, horizonMs, _._4))) {
      (key: Long, it: Iterator[(Long, Long, Long, Timestamp)], prior: Option[Seq[Long]]) =>
        var ring = prior.getOrElse(Seq.empty[Long])
        val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
        it.toSeq.sortBy(r => (r._4.getTime, r._2)).foreach { case (_, id, v, _) =>
          val n = ring.size.toLong
          if (n >= minBaseline) {
            var s = 0L; var ss = 0L
            ring.foreach { x => s += x; ss += x * x }
            val dev = v * n - s
            val nvar = n * ss - s * s
            if (nvar > 0 && dev * dev > t2 * nvar)
              out += ((key, id, v, n, dev * dev * 100 / nvar))
          }
          ring = (ring :+ v).takeRight(window)
        }
        (Some(ring), out.result().iterator)
    }
  }

  /** Streaming SCD-Type-2 dimension maintenance — the stream twin of
    * [[graft.operators.Upsert.scd2]] (up02), TTL-first like st11: as
    * change rows arrive (in any order, across any batch split), each
    * touched key re-derives its FULL version timeline and emits it;
    * the last emission per key must equal the batch scd2 history.
    *
    * Why state holds the RAW change history, not the derived timeline:
    * suppression ("drop a change whose attr equals its immediate
    * predecessor's") is defined against the raw (ts, id) sequence, so
    * a LATE row landing mid-timeline can both create a version AND
    * re-suppress a later row that previously survived — a derived
    * timeline cannot be patched locally; it must be re-derived from
    * the raw rows. Per-key state is therefore bounded by the key's
    * change COUNT (dimension keys change rarely — the SCD2 use case),
    * with the event-time timeout of [[keyed]] evicting keys idle past
    * the horizon.
    *
    * Contracts (the batch operator's, restated): ts + id tie-free per
    * key; attr non-null; change ids unique per key.
    *
    * @param changes (key, change_id, ts_days, attr, event_time)
    * @return per touched key per batch, the full re-derived timeline:
    *         (key, change_id, valid_from_days, attr, valid_to_days
    *         [-1 = open], is_current)
    */
  def scd2StreamTtl(
      changes: Dataset[(Long, Long, Long, String, Timestamp)],
      delayThreshold: String, horizonMs: Long)
      : Dataset[(Long, Long, Long, String, Long, Boolean)] = {
    implicit val outEnc: Encoder[(Long, Long, Long, String, Long, Boolean)] = ExpressionEncoder()
    implicit val stEnc: Encoder[Seq[(Long, Long, String)]] = ExpressionEncoder()
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(changes)(_._1, OutputMode.Update(), Some(Horizon("_5", delayThreshold, horizonMs, _._5))) {
      (key: Long, it: Iterator[(Long, Long, Long, String, Timestamp)],
       prior: Option[Seq[(Long, Long, String)]]) =>
        val raw = (prior.getOrElse(Seq.empty) ++ it.map(r => (r._3, r._2, r._4)))
          .sortBy(r => (r._1, r._2))
        // suppression against the immediate RAW predecessor
        val kept = raw.zipWithIndex.filter { case ((_, _, attr), i) =>
          i == 0 || raw(i - 1)._3 != attr
        }.map(_._1)
        // interval-ize: valid_to = next kept version's ts, -1 = open
        (Some(raw), kept.zipWithIndex.iterator.map { case ((ts, id, attr), i) =>
          val validTo = if (i + 1 < kept.length) kept(i + 1)._1 else -1L
          (key, id, ts, attr, validTo, validTo == -1L)
        })
    }
  }

  /** The accumulate-and-pair bucket step shared by the LSH and dHash
    * operators (the incremental bucket lifecycle of the EDBT 2020
    * incremental top-k similarity paper): state is the bucket's items
    * seen so far; the batch's new items (distinct, ids not yet resident,
    * in id order) are scored against every resident and against each
    * other, so each pair is scored exactly once, when its second member
    * arrives — arrival-order-invariant on any chunking. Emits in
    * (new × resident, then new × later new) order. */
  private def pairStep[K, I, O](id: I => Long)(score: (K, I, I) => Option[O]): Step[K, I, Seq[I], O] =
    (key, it, prior) => {
      val old = prior.getOrElse(Seq.empty)
      val oldIds = old.iterator.map(id).toSet
      val incoming = it.toSeq.distinct.filterNot(i => oldIds(id(i))).sortBy(id)
      if (incoming.isEmpty) (None, Iterator.empty)
      else {
        val out = Seq.newBuilder[O]
        for (n <- incoming; m <- old) out ++= score(key, n, m)
        for (i <- incoming.indices; j <- i + 1 until incoming.size)
          out ++= score(key, incoming(i), incoming(j))
        (Some(old ++ incoming), out.result().iterator)
      }
    }

  /** `maxHamming`, checked: the largest dHash Hamming distance a pair may have. */
  private def hammingBound(maxHamming: Int): Int = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    maxHamming
  }

  private val lshStep: Step[(Int, String), Long, Seq[Long], (Long, Long)] =
    pairStep[(Int, String), Long, (Long, Long)](identity)((_, a, b) => Some((math.min(a, b), math.max(a, b))))

  private def lshEncoders: (Encoder[(Long, Long)], Encoder[(Int, String)]) =
    (Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      Encoders.tuple(Encoders.scalaInt, Encoders.STRING))

  /** Streaming LSH candidate emission — near-dup detection ON INGEST.
    *
    * Input: (band_id, band_key, doc_id) rows
    * ([[graft.operators.TextDedup.bandRows]] over streaming minhash
    * signatures). Keyed state per band bucket holds the sorted distinct
    * doc ids seen so far; each micro-batch emits every (old, new) and
    * (new, new) pair as (doc_a < doc_b) — exactly the pairs the batch
    * band self-join produces, but incrementally, as documents arrive.
    * A pair sharing several buckets is emitted once per bucket (same as
    * the batch join before DISTINCT); dedup downstream.
    *
    * Arrival-order-invariant by construction: a pair is emitted when
    * its second member arrives, whatever the chunking — so the distinct
    * streamed pairs equal the batch candidates on any replay split (the
    * st09 gate).
    *
    * State is one id list per OCCUPIED bucket: it scales with the
    * near-dup cluster structure, not stream length; a hot bucket (mass
    * duplication of one document) produces quadratic pairs because LSH
    * candidate semantics DEMAND those pairs — cap upstream (drop or
    * sample exact-dup clusters before banding) if that is not wanted.
    * [[lshCandidateStreamTtl]] is the bounded-state production form.
    */
  def lshCandidateStream(bands: Dataset[(Int, String, Long)]): Dataset[(Long, Long)] = {
    implicit val (outEnc, keyEnc) = lshEncoders
    implicit val stEnc: Encoder[Seq[Long]] = Encoders.kryo[Seq[Long]]
    keyed(bands)(r => (r._1, r._2), OutputMode.Append())(on((r: (Int, String, Long)) => r._3)(lshStep))
  }

  /** [[lshCandidateStream]] with event-time state eviction — the dedup
    * horizon made real. Input band rows carry an event-time Timestamp
    * column (`_4`, the document's ingest time) that drives the
    * watermark; a band bucket untouched for more than `horizonMs` past
    * the watermark has its id list REMOVED from the state store. A
    * document arriving after its bucket was evicted pairs only against
    * documents inside the horizon — exactly the "dedup against the last
    * N days" contract a production ingest service declares (state
    * scales with the ACTIVE corpus window, never with ingest history).
    *
    * Inside the horizon the emitted pairs are IDENTICAL to
    * [[lshCandidateStream]] (same accumulate-and-pair step,
    * spec-pinned); activity refreshes a bucket's lease. Eviction and
    * watermark caveats as in [[keyed]].
    */
  def lshCandidateStreamTtl(bands: Dataset[(Int, String, Long, Timestamp)],
                            delayThreshold: String,
                            horizonMs: Long): Dataset[(Long, Long)] = {
    implicit val (outEnc, keyEnc) = lshEncoders
    implicit val stEnc: Encoder[Seq[Long]] = ExpressionEncoder()
    keyed(bands)(r => (r._1, r._2), OutputMode.Append(),
      Some(Horizon("_4", delayThreshold, horizonMs, _._4)))(
      on((r: (Int, String, Long, Timestamp)) => r._3)(lshStep))
  }

  /** dHash pairs (id_a < id_b, hamming) within `maxHamming`, over (id,
    * dhash) items. */
  private def dhashStep(maxHamming: Int)
      : Step[(Int, Long), (Long, Long), Seq[(Long, Long)], (Long, Long, Int)] = {
    val max = hammingBound(maxHamming)
    pairStep[(Int, Long), (Long, Long), (Long, Long, Int)](_._1) { (_, a, b) =>
      val d = java.lang.Long.bitCount(a._2 ^ b._2)
      if (d <= max) Some((math.min(a._1, b._1), math.max(a._1, b._1), d)) else None
    }
  }

  private def dhashEncoders: (Encoder[(Long, Long, Int)], Encoder[(Int, Long)]) =
    (Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt),
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))

  /** Streaming perceptual-image dedup — dHash near-dup pairs ON INGEST
    * (st15): [[lshCandidateStream]]'s band-bucket step with the verify
    * stage FUSED into emission. Input: (band, bv, id, dhash) rows
    * ([[graft.multimodal.ImageHash.bandRows]] — a pure projection, so
    * it runs unchanged on the stream). State per (band, bv) bucket
    * holds the (id, dhash) pairs seen so far; each arriving image is
    * popcount-verified against the bucket's residents AT EMISSION, so
    * the query outputs verified (id_a < id_b, hamming <= maxHamming)
    * pairs directly — no second pass, no stream-static join. A pair
    * within several shared bands emits once per band; dedup downstream
    * (the st09 contract). Arrival-order-invariant: Hamming is
    * symmetric and a pair is scored exactly once, when its second
    * member arrives — so the distinct streamed pairs equal the batch
    * [[graft.multimodal.ImageHash.nearDupPairs]] answer on ANY
    * chunking. State scales with occupied buckets; the batch-side
    * maxBandBucket cap is the upstream guard for hot buckets (flat-
    * image sludge), same production note as [[lshCandidateStream]];
    * [[dhashDedupStreamTtl]] is the bounded-state production form.
    */
  def dhashDedupStream(bands: Dataset[(Int, Long, Long, Long)],
                       maxHamming: Int): Dataset[(Long, Long, Int)] = {
    implicit val (outEnc, keyEnc) = dhashEncoders
    implicit val stEnc: Encoder[Seq[(Long, Long)]] = Encoders.kryo[Seq[(Long, Long)]]
    keyed(bands)(r => (r._1, r._2), OutputMode.Append())(
      on((r: (Int, Long, Long, Long)) => (r._3, r._4))(dhashStep(maxHamming)))
  }

  /** [[dhashDedupStream]] under event-time TTL — the production form
    * for an unbounded image firehose (the [[lshCandidateStreamTtl]]
    * contract applied to the image family): bucket state evicts
    * `horizonMs` past the bucket's last-seen event time, so state
    * tracks the dedup horizon the service guarantees rather than
    * stream length. Inside the horizon the emitted pairs equal
    * [[dhashDedupStream]]'s (same step, gated in StatefulTtlSpec);
    * after eviction a re-arriving near-dup is NOT paired against
    * forgotten history — the same deliberate semantics as the lsh TTL
    * form. Input adds the event-time column: (band, bv, id, dhash, ts).
    */
  def dhashDedupStreamTtl(bands: Dataset[(Int, Long, Long, Long, Timestamp)],
                          maxHamming: Int, delayThreshold: String,
                          horizonMs: Long): Dataset[(Long, Long, Int)] = {
    implicit val (outEnc, keyEnc) = dhashEncoders
    implicit val stEnc: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
    keyed(bands)(r => (r._1, r._2), OutputMode.Append(),
      Some(Horizon("_5", delayThreshold, horizonMs, _._5)))(
      on((r: (Int, Long, Long, Long, Timestamp)) => (r._3, r._4))(dhashStep(maxHamming)))
  }

  /** Streaming VIDEO near-dup frame matching — [[dhashDedupStream]]
    * keyed by (frame_idx, band, bv) instead of (band, bv) (st17):
    * frame alignment is part of the state key, exactly as it is part
    * of the batch join key in
    * [[graft.multimodal.ImageHash.videoNearDupPairs]], so state and
    * candidates stay bounded by per-frame-position buckets. Emits each
    * VERIFIED frame-level match (id_a < id_b, frame_idx) when its
    * second member arrives — popcount fused into emission; a match
    * within several shared bands emits once per band, dedup downstream
    * (the st09 contract). The per-video count + match-fraction gate is
    * a FINITE aggregation over distinct matches, applied by the
    * consumer ([[StreamReplay.videoDedupReplay]]) — on ingest that is
    * the nightly roll-up over the day's matched-frame events.
    * Arrival-order-invariant like the image form, so the gated result
    * equals the batch operator on any chunking. */
  def videoDhashDedupStream(rows: Dataset[(Int, Int, Long, Long, Long)],
                            maxHamming: Int): Dataset[(Long, Long, Int)] = {
    implicit val outEnc: Encoder[(Long, Long, Int)] = dhashEncoders._1
    implicit val keyEnc: Encoder[(Int, Int, Long)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong)
    implicit val stEnc: Encoder[Seq[(Long, Long)]] = Encoders.kryo[Seq[(Long, Long)]]
    val max = hammingBound(maxHamming)
    // row = (frame_idx, band, bv, id, dhash)
    keyed(rows)(r => (r._1, r._2, r._3), OutputMode.Append())(
      on((r: (Int, Int, Long, Long, Long)) => (r._4, r._5))(
        pairStep[(Int, Int, Long), (Long, Long), (Long, Long, Int)](_._1) { (key, a, b) =>
          if (a._1 != b._1 && java.lang.Long.bitCount(a._2 ^ b._2) <= max)
            Some((math.min(a._1, b._1), math.max(a._1, b._1), key._1))
          else None
        }))
  }

  /** The offset sweep's bucket step: state is the A-role residents (id,
    * dhash, shift) and the B-role residents (id, dhash); emits (id_a,
    * id_b, shift, pos) for each new A × resident B, new B × resident A
    * and new A × new B meeting with id_a < id_b within `maxHamming`. */
  private def offsetStep(maxHamming: Int): Step[(Int, Int, Long), (Int, Int, Long, Long, Long, Boolean, Int),
      (Seq[(Long, Long, Int)], Seq[(Long, Long)]), (Long, Long, Int, Int)] = {
    val max = hammingBound(maxHamming)
    (key, it, prior) => {
      val (oldA, oldB) = prior.getOrElse((Seq.empty, Seq.empty))
      val oldAKeys = oldA.iterator.map(r => (r._1, r._3)).toSet
      val oldBIds = oldB.iterator.map(_._1).toSet
      val rows = it.toSeq
      val newA = rows.filter(_._6).map(r => (r._4, r._5, r._7))
        .distinct.filterNot(r => oldAKeys((r._1, r._3))).sortBy(r => (r._1, r._3))
      val newB = rows.filterNot(_._6).map(r => (r._4, r._5))
        .distinct.filterNot(r => oldBIds(r._1)).sortBy(_._1)
      if (newA.isEmpty && newB.isEmpty) (None, Iterator.empty)
      else {
        val out = Seq.newBuilder[(Long, Long, Int, Int)]
        // batch orientation: emit only A-id < B-id, once per
        // (A, B, shift) meeting in this bucket
        def score(a: (Long, Long, Int), b: (Long, Long)): Unit =
          if (a._1 < b._1 && java.lang.Long.bitCount(a._2 ^ b._2) <= max) out += ((a._1, b._1, a._3, key._1))
        for (a <- newA; b <- oldB) score(a, b)
        for (b <- newB; a <- oldA) score(a, b)
        for (a <- newA; b <- newB) score(a, b)
        (Some((oldA ++ newA, oldB ++ newB)), out.result().iterator)
      }
    }
  }

  private def offsetEncoders: (Encoder[(Long, Long, Int, Int)], Encoder[(Int, Int, Long)],
      Encoder[(Seq[(Long, Long, Int)], Seq[(Long, Long)])]) =
    (Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt),
      Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaLong),
      Encoders.kryo[(Seq[(Long, Long, Int)], Seq[(Long, Long)])])

  /** Streaming OFFSET-TOLERANT segment/frame matching (st19) —
    * [[videoDhashDedupStream]] with mm06's bounded alignment sweep
    * folded into the STATE key: each arriving item is registered in
    * its bucket twice over — once in the B role at its TRUE position,
    * and (2·maxShift+1)× in the A role at each ALIGNED position
    * `pos = idx − s` — exactly the batch replication of
    * [[graft.multimodal.ImageHash.videoNearDupPairsOffset]], so state
    * stays bounded by per-(shifted)-position buckets at a constant
    * (2·maxShift+2)× of the aligned form's, never item×item. A
    * verified match emits the moment its second member arrives, in
    * batch-identical orientation: only A-role-id < B-role-id pairs
    * emit (the batch's `id_a < id_b` filter over the replicated side),
    * so `shift` always means "segments of id_a's intro skipped". The
    * best-single-shift + match-fraction gate is a finite roll-up over
    * distinct (id_a, id_b, shift, pos) events, applied by the consumer
    * ([[StreamReplay.offsetDedupReplay]]) — the nightly roll-up, the
    * st17 discipline. Arrival-order-invariant like the aligned form.
    *
    * Input rows: (pos, band, bv, id, dhash, isA, shift) — the role
    * replication is a pure projection the caller builds in-stream.
    * Output: (id_a, id_b, shift, pos) verified match events. */
  def offsetDhashDedupStream(rows: Dataset[(Int, Int, Long, Long, Long, Boolean, Int)],
                             maxHamming: Int): Dataset[(Long, Long, Int, Int)] = {
    implicit val (outEnc, keyEnc, stEnc) = offsetEncoders
    keyed(rows)(r => (r._1, r._2, r._3), OutputMode.Append())(offsetStep(maxHamming))
  }

  /** [[offsetDhashDedupStream]] under event-time TTL — the production
    * form for an unbounded segment/frame firehose (the
    * [[dhashDedupStreamTtl]] contract applied to the offset tier):
    * bucket state evicts `horizonMs` past the bucket's last-seen event
    * time, so state tracks the trim-tolerant dedup horizon the service
    * guarantees rather than ingest history. Inside the horizon the
    * emitted match events equal [[offsetDhashDedupStream]]'s (same
    * step, gated in StatefulTtlSpec); after eviction a re-arriving copy
    * is NOT matched against forgotten history — the deliberate
    * activity-window semantics of the whole TTL family. Input adds the
    * event-time column: (pos, band, bv, id, dhash, isA, shift, ts).
    *
    * State is (kryo(A residents, B residents), lease); before the shared
    * runner it was one kryo blob of (A, B, lease), so a query restarted
    * from a checkpoint written by that form fails Spark's state-schema
    * check.
    */
  def offsetDhashDedupStreamTtl(
      rows: Dataset[(Int, Int, Long, Long, Long, Boolean, Int, Timestamp)],
      maxHamming: Int, delayThreshold: String,
      horizonMs: Long): Dataset[(Long, Long, Int, Int)] = {
    implicit val (outEnc, keyEnc, stEnc) = offsetEncoders
    keyed(rows)(r => (r._1, r._2, r._3), OutputMode.Append(),
      Some(Horizon("_8", delayThreshold, horizonMs, _._8)))(
      on((r: (Int, Int, Long, Long, Long, Boolean, Int, Timestamp)) =>
        (r._1, r._2, r._3, r._4, r._5, r._6, r._7))(offsetStep(maxHamming)))
  }

  /** Streaming SEMANTIC-dedup drop emission — the batch-vs-batch half
    * of SemDeDup on ingest (st14; the corpus half is a stateless
    * stream-static join in the replay, see
    * [[StreamReplay.semanticDedupReplay]]).
    *
    * Input: (vec_id, cluster, embedding) rows, cluster already assigned
    * against the persisted centroids ([[graft.operators.Similarity.assignLocal]]
    * — a pure projection, so it runs unchanged on the stream). Keyed
    * state per cluster accumulates the batch vectors seen so far; each
    * micro-batch emits the HIGHER id of every near pair
    * (cosine >= threshold) the moment its second member arrives —
    * exactly sd02's dupVsBatch set ("drop a iff some lower-id batch row
    * is near a"), but incrementally: {max(a,b) : cos(a,b) >= θ} ≡
    * {a : ∃ b < a, cos(a,b) >= θ}. Arrival-order-invariant by the same
    * argument as [[lshCandidateStream]] — a pair is scored once,
    * whatever the chunking — so the distinct drops equal the batch
    * answer on any replay split. A dropped row STAYS in state and keeps
    * dropping others (sd02 dominance is against all lower-id batch
    * rows, surviving or not). Duplicate emissions possible when a row
    * pairs with several earlier rows; dedup downstream (st09 contract).
    *
    * State is the batch's vectors per OCCUPIED cluster — the same
    * batch-side axis sd02's maxClusterSize guards; production adds a
    * TTL keyed to the ingest horizon ([[lshCandidateStreamTtl]]
    * pattern). Cosines use [[graft.functions.CosineSimilarity.local]],
    * the codegen'd expression's arithmetic verbatim, so streamed drops
    * are bit-identical to the batch operator's. Unlike [[pairStep]], a
    * batch's rows are not made distinct before pairing.
    */
  def semanticDropStream(rows: Dataset[(Long, Int, Seq[Double])],
                         threshold: Double): Dataset[Long] = {
    implicit val outEnc: Encoder[Long] = Encoders.scalaLong
    implicit val keyEnc: Encoder[Int] = Encoders.scalaInt
    implicit val stEnc: Encoder[Seq[(Long, Seq[Double])]] = Encoders.kryo[Seq[(Long, Seq[Double])]]
    keyed(rows)(_._2, OutputMode.Append()) {
      (_: Int, it: Iterator[(Long, Int, Seq[Double])], prior: Option[Seq[(Long, Seq[Double])]]) =>
        val old = prior.getOrElse(Seq.empty)
        val seen = old.iterator.map(_._1).toSet
        val incoming = it.map(r => (r._1, r._3)).toSeq.filterNot(r => seen(r._1)).sortBy(_._1)
        if (incoming.isEmpty) (None, Iterator.empty)
        else {
          val out = Seq.newBuilder[Long]
          for ((ida, va) <- incoming; (idb, vb) <- old)
            if (graft.functions.CosineSimilarity.local(va, vb) >= threshold)
              out += math.max(ida, idb)
          for (i <- incoming.indices; j <- i + 1 until incoming.size)
            if (graft.functions.CosineSimilarity.local(incoming(i)._2, incoming(j)._2) >= threshold)
              out += incoming(j)._1
          (Some(old ++ incoming), out.result().iterator)
        }
    }
  }

  /** Admits up to the key's remaining budget from the batch. */
  private def rateStep(maxPerKey: Long): Step[Long, (Long, Double), Long, (Long, Double)] = (_, it, used) => {
    val u = used.getOrElse(0L)
    // clamp BEFORE the Int conversion: maxPerKey > Int.MaxValue
    // must admit Int.MaxValue per batch, not truncate negative
    val admitted = it.take(math.min(math.max(0L, maxPerKey - u), Int.MaxValue.toLong).toInt).toSeq
    (if (admitted.isEmpty && used.isDefined) None else Some(u + admitted.size), admitted.iterator)
  }

  /** Per-key admission limit across the whole stream: at most
    * `maxPerKey` events per key pass; the rest are dropped, however many
    * batches they span (Append mode, flatMap = 0..N outputs per group).
    */
  def rateLimit(events: Dataset[(Long, Double)], maxPerKey: Long): Dataset[(Long, Double)] = {
    implicit val outEnc: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Append())(rateStep(maxPerKey))
  }

  /** [[rateLimit]] with event-time state eviction: the admission
    * counter for a key idle past `horizonMs` is REMOVED, after which
    * the key's budget RESETS — i.e. "at most k per key per horizon
    * window of activity", the semantics a production rate limiter
    * declares anyway (an eternal per-key budget is both a state leak
    * and a product bug). Inside the horizon, identical to [[rateLimit]]
    * (same step, spec-pinned). Eviction and watermark caveats as in
    * [[keyed]].
    *
    * Input rows carry the event-time Timestamp in `_3`.
    */
  def rateLimitTtl(events: Dataset[(Long, Double, Timestamp)],
                   maxPerKey: Long,
                   delayThreshold: String,
                   horizonMs: Long): Dataset[(Long, Double)] = {
    implicit val outEnc: Encoder[(Long, Double)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    keyed(events)(_._1, OutputMode.Append(), Some(Horizon("_3", delayThreshold, horizonMs, _._3)))(
      on((r: (Long, Double, Timestamp)) => (r._1, r._2))(rateStep(maxPerKey)))
  }
}
