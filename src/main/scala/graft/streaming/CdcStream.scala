package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming CDC operators (SURVEY.md §2.C6-C7) — the
  * streaming twins of the batch ops in [[graft.operators.Cdc]].
  *
  * The north-star architecture: an external CDC capture (Debezium-
  * style) lands change records on a stream; this module materializes
  * state and windowed aggregates incrementally. State is partitioned
  * by key in the Spark state store — at cluster scale each executor
  * holds only its key range, and checkpointing gives exactly-once.
  *
  * Design follows the incremental-execution model of "Structured
  * Streaming: A Declarative API for Real-Time Applications in Apache
  * Spark" (SIGMOD 2018) — same declarative plans for batch and
  * stream, watermark-bounded state — over the micro-batch fault
  * tolerance of "Discretized Streams" (SOSP 2013). See PAPERS.md.
  */
object CdcStream {

  /** One change record (op: I=insert, U=update, D=delete tombstone). */
  case class Change(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      op: String, value: Double)

  /** Materialized per-key state after applying a change. */
  case class UserState(user_id: Long, last_op: String, last_value: Double,
      last_ts: java.sql.Timestamp, last_event_id: Long, deleted: Boolean)

  /** Full-microsecond event time: `getTime` alone truncates to ms
    * and can mis-order two changes inside one millisecond against
    * the documented (ts, event_id) contract — Timestamp carries the
    * sub-ms digits only in `getNanos`. */
  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + t.getNanos / 1000 % 1000

  /** One key's changes of a micro-batch in (ts, event_id) order, `ts`
    * to the microsecond — the batch twins' window order. */
  private def inEventOrder(changes: Iterator[Change]): Array[Change] =
    changes.toArray.sortBy(c => (tsUs(c.ts), c.event_id))

  /** The change feed keyed by `user_id`, coalesced first to at most
    * `spark.sql.shuffle.partitions` partitions: the keyed exchange's
    * reducer count, and the state-store partition count of a new
    * checkpoint. A source may deliver one partition per append (as one
    * poll of a partitioned log does), and the map stage would run one
    * task per append. The coalesce is narrow: it adds no shuffle, keeps
    * the state layout and the checkpoint, and leaves an input with
    * fewer partitions as it is. Only for ops whose per-key result does
    * not depend on arrival order (each sorts its group by (ts,
    * event_id) or takes a max). */
  private def byUser(changes: Dataset[Change]): KeyValueGroupedDataset[Long, Change] = {
    import changes.sparkSession.implicits._
    val reducers = changes.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    changes.coalesce(reducers).groupByKey(_.user_id)
  }

  /** C6 streaming latest-state store: newest change per key wins;
    * tombstones mark the key deleted but stay in state so late
    * out-of-order updates older than the tombstone don't resurrect
    * the row. Emits the updated state per key per micro-batch
    * (use OutputMode.Update). The feed is coalesced to at most
    * `spark.sql.shuffle.partitions` partitions before its keyed
    * exchange (see [[byUser]]), so a micro-batch that collected many
    * appends still runs at most that many map tasks. */
  def latestState(changes: Dataset[Change]): Dataset[UserState] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Change], state: GroupState[UserState]) =>
          val incoming = it.map(c => UserState(uid, c.op, c.value, c.ts,
            c.event_id, deleted = c.op == "D"))
          val newest = (state.getOption.iterator ++ incoming)
            .maxBy(s => (tsUs(s.last_ts), s.last_event_id))
          state.update(newest)
          newest
      }
  }

  /** C43 streaming GDPR forget — the streaming twin of
    * [[graft.operators.Cdc.forget]]: a change with op "F" is an
    * erasure REQUEST flowing in-band with the CDC feed (the Debezium
    * tombstone-topic pattern). Semantics, deliberately distinct from
    * "D": a delete tombstone STAYS in state so late out-of-order
    * updates can't resurrect the row; a forget REMOVES the key's
    * state entirely — tombstone included — because retention law
    * covers the state store itself. Each request emits one scrubbed
    * confirmation record (op "F", value 0.0, deleted) for the
    * downstream audit sink; the key's pre-forget values never leave
    * the operator again. Changes arriving AFTER the forget (in
    * event-time order) legitimately re-create state — stopping the
    * feed for an erased subject is the capture layer's contract, and
    * replay determinism here requires processing each micro-batch in
    * (ts, event_id) order. State cost: one row per LIVE key, same as
    * C6; forgotten keys cost zero. */
  def forgetStream(changes: Dataset[Change]): Dataset[UserState] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState[UserState, UserState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Change], state: GroupState[UserState]) =>
          val out = scala.collection.mutable.ArrayBuffer[UserState]()
          for (c <- inEventOrder(it)) {
            if (c.op == "F") {
              state.remove()
              out += UserState(uid, "F", 0.0, c.ts, c.event_id,
                deleted = true)
            } else {
              val cand = UserState(uid, c.op, c.value, c.ts, c.event_id,
                deleted = c.op == "D")
              val newest = (state.getOption.iterator ++ Iterator(cand))
                .maxBy(s => (tsUs(s.last_ts), s.last_event_id))
              state.update(newest)
            }
          }
          if (state.exists) out += state.get
          out.iterator
      }
  }

  /** One shard's heavy-hitter estimate at a micro-batch boundary. */
  case class HeavyHitter(shard: Int, token: String, est: Long)

  /** C45 streaming heavy hitters — the continuous frequent-items
    * monitor (trending tokens/domains on the ingest feed) built on
    * the SAME Misra-Gries counter logic as the batch F23 aggregate:
    * tokens shard by hash, each shard holds ≤ k counters in
    * `flatMapGroupsWithState` FOREVER-bounded state (the entire
    * store is shards·k counters no matter how long the stream runs
    * or how large the vocabulary grows), and every micro-batch
    * emits the shard's current candidate list. Because a token's
    * every occurrence lands on its own shard, any token with GLOBAL
    * frequency > n_shard/(k+1) ≥ its shard's bound survives — the
    * F23 survival guarantee holds per shard with a tighter n. As in
    * batch, estimates are undercounts; a consumer needing exact
    * counts re-counts the ≤ shards·k candidates (the F23 second
    * pass run as a periodic batch job over the same feed). */
  def heavyHittersStream(tokens: Dataset[String], k: Int = 64,
      shards: Int = 8): Dataset[HeavyHitter] = {
    import tokens.sparkSession.implicits._
    tokens.groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState[Map[String, Long], HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard: Int, it: Iterator[String],
            state: GroupState[Map[String, Long]]) =>
          val buf = scala.collection.mutable.HashMap.empty[String, Long]
          state.getOption.foreach(m => buf ++= m)
          for (t <- it) graft.functions.MisraGries.add(buf, t, k)
          state.update(buf.toMap)
          buf.toSeq.sortBy { case (s, c) => (-c, s) }
            .iterator.map { case (s, c) => HeavyHitter(shard, s, c) }
      }
  }

  /** SplitMix64 finalizer (Steele/Lea/Flood 2014, public domain —
    * the JDK SplittableRandom mix): the deterministic 64-bit hash
    * the C81/C82 sketches key on. Pure function of the id, so a
    * replayed element maps to the SAME point and both sketches are
    * replay-idempotent by construction. */
  def mix64(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** One bottom-k sample emission from [[bottomKSampleStream]]. */
  case class SamplePoint(event_type: String, n_state: Int,
      hash: Long, event_id: Long)

  /** C81 STREAMING BOTTOM-K UNIFORM SAMPLE — the always-current
    * per-key random sample every monitoring/debug surface wants
    * ("show me 32 recent-representative events of this type") with
    * NONE of reservoir sampling's nondeterminism: keep the k ids
    * with the smallest mix64 hash. Because the hash is a pure
    * function of the id, the state after ANY prefix equals the batch
    * bottom-k over the same set (order statistics of a fixed random
    * permutation = a uniform without-replacement sample), two
    * streams MERGE by union+trim (the coordinator-free property
    * reservoirs lack), and REPLAYED elements are no-ops (dedupe by
    * id in the trim). State: ≤ k (hash, id) pairs per key, forever.
    * Every micro-batch emits the key's current sample. */
  def bottomKSampleStream(events: Dataset[(String, Long)], k: Int = 32):
      Dataset[SamplePoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long)], SamplePoint](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long)],
            state: GroupState[Seq[(Long, Long)]]) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++
            it.map { case (_, id) => (mix64(id), id) })
            .distinct.sorted.take(k)
          state.update(merged)
          merged.iterator.map { case (h, id) =>
            SamplePoint(key, merged.size, h, id) }
      }
  }

  /** One HLL emission from [[hllStream]]. */
  case class HllPoint(event_type: String, n_zero_regs: Int,
      estimate: Long, registers: Seq[Int])

  /** C82 STREAMING HYPERLOGLOG distinct counter — the continuous
    * twin of A23's batch approx_count_distinct, as the live panel
    * shape ("distinct users per type, now") a monitoring surface
    * keeps current per micro-batch: per key, 64 registers (b = 6) in
    * `flatMapGroupsWithState` state — register j = low 6 hash bits,
    * rank = leading-zero count of the remaining 58 bits + 1, state
    * merge = elementwise max (Flajolet et al. 2007). mix64 keys make
    * the register table a pure function of the id SET: replays are
    * no-ops, two streams merge by max, and the state after any
    * prefix equals the batch-computed registers over the same ids —
    * the property the C82 spec pins exactly. Estimate = the standard
    * α₆₄·m²/Σ2^(−Mⱼ) with the small-range linear-counting branch.
    * State: 64 ints per key, forever-bounded. */
  def hllStream(events: Dataset[(String, Long)]): Dataset[HllPoint] = {
    import events.sparkSession.implicits._
    val m = 64
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[Int], HllPoint](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long)],
            state: GroupState[Seq[Int]]) =>
          val regs = state.getOption
            .map(_.toArray).getOrElse(new Array[Int](m))
          for ((_, id) <- it) {
            val h = mix64(id)
            val j = (h & (m - 1)).toInt
            val w = h >>> 6
            val rho =
              if (w == 0L) 59
              else java.lang.Long.numberOfLeadingZeros(w) - 6 + 1
            if (rho > regs(j)) regs(j) = rho
          }
          state.update(regs.toSeq)
          val zeros = regs.count(_ == 0)
          val alpha = 0.709
          val raw = alpha * m * m /
            regs.map(r => math.pow(2.0, -r)).sum
          val est =
            if (raw <= 2.5 * m && zeros > 0)
              m * math.log(m.toDouble / zeros)
            else raw
          Iterator.single(HllPoint(key, zeros, math.round(est),
            regs.toSeq))
      }
  }

  /** C56 streaming COUNT-MIN maintenance — the A62 sketch kept
    * continuously current on the ingest feed (the production shape of
    * a frequency sketch: nobody rebuilds it in batch per query; the
    * stream folds into 4×256 counters and readers join against the
    * live table). Same literal hash lanes as the batch builder
    * (`Relational.CmsA/CmsB/CmsP`), so the streaming state IS the
    * batch sketch: after any prefix of the feed the counter table
    * equals `countMinOn`'s over the same events — exactly-once
    * streaming aggregation makes replayed micro-batches a no-op.
    * State is FOREVER-bounded at d·w = 1 024 rows no matter how long
    * the stream runs (contrast C45's Misra-Gries candidates, which
    * track membership; CMS answers point frequency for ANY key).
    * Update output mode; per micro-batch only touched cells emit. */
  def cmsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import graft.operators.Relational.{CmsA, CmsB, CmsP, CmsW}
    val lanes = CmsA.indices.map { i =>
      struct(lit(i.toLong).as("row"),
        expr(s"((${CmsA(i)} * (user_id % $CmsP) + ${CmsB(i)}) % $CmsP)" +
          s" % $CmsW").as("cell"))
    }
    events.select(explode(array(lanes: _*)).as("h"))
      .select($"h.row".as("row"), $"h.cell".as("cell"))
      .groupBy($"row", $"cell")
      .agg(count(lit(1)).as("counter"))
  }

  /** One running-quantile emission from [[lagQuantileStream]]. */
  case class LagQuantilePoint(event_type: String, n_events: Long,
      p50_ms: Long, p90_ms: Long, p99_ms: Long, max_ms: Long)

  /** C62 STREAMING ingest-lag monitor — the continuous twin of C61's
    * batch percentiles (the latency panel that must exist WHILE the
    * feed runs, not in tomorrow's batch report): per event type a
    * BOUNDED millisecond histogram rides in state — ≤ `maxBuckets`
    * counters whatever the throughput, lags past the cap clamp into
    * the top bucket (stated; an SLO monitor cares about "over N ms",
    * not its exact value) — and every micro-batch folds its lags in
    * and emits the updated EXACT type-1 p50/p90/p99 over everything
    * seen. Exact because the histogram is lossless at ms granularity
    * below the cap — the C61 value-domain argument carried into
    * `flatMapGroupsWithState` state. */
  def lagQuantileStream(lags: Dataset[(String, Long)],
      maxBuckets: Int = 8192): Dataset[LagQuantilePoint] = {
    import lags.sparkSession.implicits._
    lags.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (typ: String, it: Iterator[(String, Long)],
         state: GroupState[Map[Long, Long]]) =>
          var h = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { case (_, lagUs) =>
            val b = math.min(lagUs / 1000L, maxBuckets - 1L)
            h = h.updated(b, h.getOrElse(b, 0L) + 1L)
          }
          state.update(h)
          val n = h.values.sum
          val sorted = h.toSeq.sortBy(_._1)
          def q(p: Double): Long = {
            val k = math.ceil(p * n).toLong
            var cum = 0L
            sorted.find { case (_, c) => cum += c; cum >= k }
              .map(_._1).getOrElse(sorted.last._1)
          }
          Iterator.single(LagQuantilePoint(typ, n,
            q(0.5), q(0.9), q(0.99), sorted.last._1))
      }
  }

  /** One per-type emission from [[msprtStream]]. */
  case class MsprtPoint(event_type: String, n_obs: Long, s: Long,
      v: Long, lln: Double, crossed: Boolean, first_cross_n: Option[Long])

  /** C76 STREAMING mSPRT monitor — the continuous twin of the batch
    * always-valid A/B test (`Cdc.msprt`): the WHOLE point of an
    * always-valid p-value is that the dashboard reads it live, so
    * the monitor belongs in the stream. Per event type the state is
    * FOUR scalars — S = Σ±1 (id-parity arm diff), V = n, the sticky
    * crossed flag and the first-crossing count — bounded whatever
    * the throughput; every micro-batch folds its events in (order
    * within S is irrelevant: S and V are commutative integer sums,
    * which is why this statistic streams exactly) and emits the
    * updated lnΛ under the same normal-mixture form as the batch
    * twin. The crossing is ONE-SHOT sticky: the first n where
    * lnΛ ≥ ln(1/α) is recorded and never revised — the always-valid
    * guarantee is about EVER crossing, so the live monitor must not
    * un-cross on later mean reversion. Spec pins S/V/lnΛ equality
    * with the batch statistic across micro-batch splits. */
  def msprtStream(arms: Dataset[(String, Long)],
      tau2: Double = 10000.0, alpha: Double = 0.05): Dataset[MsprtPoint] = {
    import arms.sparkSession.implicits._
    val lnCrit = math.log(1.0 / alpha)
    arms.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (typ: String, it: Iterator[(String, Long)],
         state: GroupState[(Long, Long, Boolean, Long)]) =>
          var (s, v, crossed, firstN) =
            state.getOption.getOrElse((0L, 0L, false, 0L))
          it.foreach { case (_, userId) =>
            s += (if (userId % 2 == 0) 1L else -1L)
            v += 1L
            if (!crossed && v > 0L) {
              val vd = v.toDouble
              val lln = 0.5 * math.log(vd / (vd + tau2)) +
                tau2 * (s.toDouble * s.toDouble) /
                  (2.0 * vd * (vd + tau2))
              if (lln >= lnCrit) { crossed = true; firstN = v }
            }
          }
          state.update((s, v, crossed, firstN))
          val vd = v.toDouble
          val lln =
            if (v == 0L) 0.0
            else 0.5 * math.log(vd / (vd + tau2)) +
              tau2 * (s.toDouble * s.toDouble) / (2.0 * vd * (vd + tau2))
          Iterator.single(MsprtPoint(typ, v, s, v, lln, crossed,
            if (crossed) Some(firstN) else None))
      }
  }

  /** One per-bucket completeness emission from
    * [[completenessStream]]. */
  case class BucketCompleteness(bucket: Long, n_seen: Long,
      lo_id: Long, hi_id: Long, n_missing_interior: Long)

  /** C64 STREAMING completeness monitor — the continuous twin of
    * C63's batch gap audit ("are we missing producer ids" answered
    * WHILE the feed runs): ids key by bucket = id div `bucketSize`,
    * each bucket owns ONE fixed bitmap in state (bucketSize bits ≈
    * 1 KB at 8192 — bounded per key whatever the throughput or
    * re-delivery rate; setting a bit twice is a no-op, so replays
    * are idempotent by construction), and every micro-batch emits
    * the bucket's exact seen-count and interior hole count.
    * Cross-bucket/boundary gaps remain the batch C63 report's job —
    * the division of labor is stated, not accidental. */
  def completenessStream(ids: Dataset[Long],
      bucketSize: Int = 8192): Dataset[BucketCompleteness] = {
    import ids.sparkSession.implicits._
    val bs = bucketSize.toLong
    // floorDiv/floorMod, not truncating / and -: a negative id under
    // truncating division lands in the wrong bucket with a NEGATIVE
    // offset (ArrayIndexOutOfBounds at runtime); floor semantics keep
    // every id in the bucket that owns its [bkt*bs, (bkt+1)*bs) range
    ids.groupByKey(id => Math.floorDiv(id, bs))
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (bkt: Long, it: Iterator[Long], state: GroupState[Array[Long]]) =>
          val words = state.getOption
            .getOrElse(new Array[Long]((bucketSize + 63) / 64))
          it.foreach { id =>
            val off = Math.floorMod(id, bs).toInt
            words(off >> 6) |= 1L << (off & 63)
          }
          state.update(words)
          var n = 0L; var lo = -1L; var hi = -1L
          var i = 0
          while (i < bucketSize) {
            if (((words(i >> 6) >> (i & 63)) & 1L) == 1L) {
              n += 1; if (lo < 0) lo = i; hi = i
            }
            i += 1
          }
          Iterator.single(BucketCompleteness(bkt, n,
            bkt * bs + lo, bkt * bs + hi, (hi - lo + 1) - n))
      }
  }

  /** C7 streaming windowed aggregation with watermark: tumbling 1-hour
    * event-time counts — the streaming twin of Cdc.eventCounts. The
    * 2h watermark bounds state: closed windows are finalized and
    * dropped from the store. */
  def hourlyCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("win"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"))
      .select(unix_micros($"win.start").as("hour_us"), $"event_type",
        $"n", $"sum_value")
  }

  /** One SCD2 version row (closed when valid_to_us is set). */
  case class Scd2Row(user_id: Long, event_id: Long, valid_from_us: Long,
      valid_to_us: Option[Long], is_current: Boolean)

  /** C11 streaming SCD type-2: every change closes the previous open
    * version (emitting it with valid_to) and opens a new one. State
    * per key = the single open version; closed versions are emitted
    * downstream and never held — bounded state at any scale.
    * Late (out-of-order) changes older than the open version are
    * ignored, matching the batch twin's event-time ordering. */
  def scd2Stream(changes: Dataset[Change]): Dataset[Scd2Row] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState[Scd2Row, Scd2Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Change], state: GroupState[Scd2Row]) =>
          var open = state.getOption
          val closed = Seq.newBuilder[Scd2Row]
          for (c <- inEventOrder(it)) {
            val ts = tsUs(c.ts)
            open match {
              case Some(o) if ts >= o.valid_from_us =>
                closed += o.copy(valid_to_us = Some(ts), is_current = false)
                open = Some(Scd2Row(uid, c.event_id, ts, None, is_current = true))
              case Some(_) => // stale change: older than the open version
              case None =>
                open = Some(Scd2Row(uid, c.event_id, ts, None, is_current = true))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** C26 streaming envelope ingest — the full Debezium-shaped edge
    * wired end-to-end: raw envelope JSON as landed by a connector
    * (`event_id` = the source's record offset, `env` = the wire
    * bytes) is parsed with the C25 explicit-schema projection —
    * permissive, tombstones normalized from the before-image — and
    * typed into [[Change]] records ready for [[latestState]] /
    * [[scd2Stream]]. Corrupt envelopes null out in the parse and are
    * dropped here (a real deployment forks them to a quarantine sink
    * first — the Jsonl pattern); the stream never dies on bad bytes.
    * Shape: pure per-row projection, fuses into the source scan —
    * the keyed state op downstream does the only shuffle. */
  def envelopeChanges(envelopes: DataFrame,
      jsonCol: String = "env"): Dataset[Change] = {
    import envelopes.sparkSession.implicits._
    graft.operators.Cdc.parseEnvelope(envelopes, jsonCol)
      .filter($"user_id".isNotNull && $"op".isNotNull &&
        $"ts_ms".isNotNull && $"val".isNotNull)
      .select($"user_id", $"event_id",
        timestamp_millis($"ts_ms").as("ts"), $"op", $"val".as("value"))
      .as[Change]
  }

  /** Partition-capacity of the [[kafkaEnvelopes]] event_id encoding:
    * id = partition · 2⁴⁴ + offset — 2⁴⁴ offsets per partition and
    * ~2¹⁹ partitions before overflow, both far beyond real topics. */
  private val KafkaOffsetStride = 1L << 44

  /** C31 Kafka ingest wiring for the envelope stream — the production
    * reader a real CDC deployment starts from (`spark-sql-kafka-0-10`,
    * the standard external connector jar, must be on the classpath;
    * this build environment has no network access and does not bundle
    * it, which is why the spec proves the pipeline through
    * [[kafkaEnvelopes]] on a kafka-schema stream instead of a live
    * broker). Returns the connector's fixed wire schema (key/value
    * binary, topic, partition, offset, timestamp, timestampType). */
  def kafkaEnvelopeSource(spark: org.apache.spark.sql.SparkSession,
      bootstrapServers: String, topic: String,
      startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Normalize a Kafka-schema frame (from [[kafkaEnvelopeSource]] or
    * any source with the same wire schema) to the `(event_id, env)`
    * envelope contract [[envelopeChanges]] consumes: `env` = the
    * record value decoded as UTF-8, `event_id` = partition · 2⁴⁴ +
    * offset — unique across partitions, monotone within one, so
    * downstream latest-state ties break exactly as the file twin's
    * record offsets do. Source-independence is the point: the
    * projection is pure column math, so the SAME downstream pipeline
    * plans on a Kafka relation, a file relation, or a MemoryStream
    * (spec-pinned parity). */
  def kafkaEnvelopes(kafka: DataFrame): DataFrame =
    kafka.select(
      (col("partition").cast("long") * KafkaOffsetStride + col("offset"))
        .as("event_id"),
      col("value").cast("string").as("env"))

  /** [[kafkaEnvelopeSource]] ∘ [[kafkaEnvelopes]] ∘ [[envelopeChanges]]
    * composed: Kafka wire bytes → typed [[Change]] records. */
  def kafkaEnvelopeChanges(kafka: DataFrame): Dataset[Change] =
    envelopeChanges(kafkaEnvelopes(kafka))

  /** Per-key drift statistics emitted by [[cusumStream]]. */
  case class Drift(user_id: Long, n_events: Long,
      drift_up: Long, drift_down: Long)

  /** C72 STREAMING SLO-burn monitor — the continuous twin of the
    * batch two-window alert (`Cdc.sloBurn`, C69), built on a NATIVE
    * SLIDING window (7-day window sliding 1 day over the event-time
    * watermark) rather than keyed state: every day each live window
    * re-emits its exact error/event counts, the integer-ppm rate,
    * and the burning flag vs the shared [[graft.operators.Cdc]] SLO
    * constant. The fast 1-day window and the two-window AND stay the
    * batch report's job (stated division of labor — C63/C64 shape).
    * State is bounded by watermark retention (7 live windows/day),
    * and the flag compares integer cross-products, never divided
    * ppm. */
  def sloBurnStream(events: DataFrame,
      sloPpm: Long = graft.operators.Cdc.SloPpm)
      : DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 day")
      .groupBy(window($"ts", "7 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(($"event_type" === "error").cast("long")).as("n_errors"))
      .select(unix_micros($"w.start").as("win_start_us"),
        unix_micros($"w.end").as("win_end_us"),
        $"n_events", $"n_errors",
        expr("n_errors * 1000000 div n_events").as("rate7_ppm"),
        ($"n_errors" * 1000000L > $"n_events" * sloPpm).cast("long")
          .as("burning"))
  }

  case class InterarrivalPoint(event_type: String, n_gaps: Long,
    mean_us: Double, cv: Double, burstiness: Double)

  /** C67 streaming INTER-ARRIVAL monitor — the continuous twin of
    * the batch burstiness audit (`Cdc.interarrival`, C65): per event
    * type the state is ONE 4-tuple (last_us, n, Σg, Σg²) — bounded
    * whatever the throughput — and each micro-batch emits the
    * running mean gap, CV, and Goh-Barabási burstiness. Σg² rides in
    * a double (the monitor posture: ≤ 2⁻⁵² relative error per
    * update; EXACT grading is the batch C65's decimal job — stated
    * division of labor, same as C62/C63 vs their batch twins).
    * Batch-internal order is (ts, event_id); cross-batch the per-key
    * in-order delivery contract (the [[cusumStream]] contract). */
  def interarrivalStream(
      events: Dataset[(String, java.sql.Timestamp, Long)])
      : Dataset[InterarrivalPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (t: String, it: Iterator[(String, java.sql.Timestamp, Long)],
            state: GroupState[(Long, Long, Long, Double)]) =>
          var (last, n, sg, sq) =
            state.getOption.getOrElse((-1L, 0L, 0L, 0.0))
          it.toArray.sortBy(e => (tsUs(e._2), e._3)).foreach { e =>
            val us = tsUs(e._2)
            if (last >= 0L) {
              val g = us - last
              n += 1; sg += g; sq += g.toDouble * g.toDouble
            }
            last = us
          }
          state.update((last, n, sg, sq))
          if (n >= 2L && sg > 0L) {
            val mean = sg.toDouble / n.toDouble
            val v = (n.toDouble * sq - sg.toDouble * sg.toDouble) /
              (n.toDouble * (n - 1L).toDouble)
            val sd = math.sqrt(math.max(v, 0.0))
            Iterator.single(InterarrivalPoint(t, n, mean, sd / mean,
              (sd - mean) / (sd + mean)))
          } else Iterator.empty
      }
  }

  /** C34 streaming CUSUM drift detection — the continuous twin of the
    * batch closed form (`Resilience.cusumDrift`): per key, prefix sum
    * P of (cents − target), running min/max of P, and the historical
    * max up/down drift S⁺ = P − min(0, minP) / S⁻ = max(0, maxP) − P,
    * all updated incrementally. The reference value is a FIXED target
    * (standard streaming CUSUM) because a stream has no global mean;
    * with target == the series mean, the batch statistic is exactly
    * n × this one (its deviations are n-scaled) — the spec pins that
    * identity. State is six longs + nothing else per key (bounded
    * regardless of stream length); events apply in (ts, event_id)
    * order within each batch, and the cross-batch contract is
    * per-key in-order delivery (the CDC envelope offset order,
    * same as [[latestState]]). */
  def cusumStream(changes: Dataset[Change],
      targetCents: Long): Dataset[Drift] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Change],
            state: GroupState[(Long, Long, Long, Long, Long, Long)]) =>
          var (p, minP, maxP, up, down, n) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L, 0L))
          inEventOrder(it).foreach { c =>
            p += math.round(c.value * 100) - targetCents
            if (p < minP) minP = p
            if (p > maxP) maxP = p
            val du = p - math.min(0L, minP)
            val dd = math.max(0L, maxP) - p
            if (du > up) up = du
            if (dd > down) down = dd
            n += 1
          }
          state.update((p, minP, maxP, up, down, n))
          Iterator.single(Drift(uid, n, up, down))
      }
  }

  /** C35 streaming changelog compaction — the ingest-side twin of the
    * batch no-op filter (`Cdc.compactChangelog`): per key, emit only
    * changes whose cent value differs from the key's last EMITTED
    * value; retry storms, heartbeats and idempotent re-sends die at
    * the edge, before they inflate every downstream state store and
    * sink. State per key is ONE long (the last emitted cents) —
    * bounded regardless of stream length; batch-internal order is
    * (ts, event_id), cross-batch the per-key in-order delivery
    * contract (same as [[latestState]]/[[cusumStream]]). */
  def compactChangelogStream(changes: Dataset[Change]): Dataset[Change] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[Change], state: GroupState[Long]) =>
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = inEventOrder(it).flatMap { c =>
            val cents = math.round(c.value * 100)
            if (cents != last) { last = cents; Some(c) } else None
          }
          state.update(last)
          out.iterator
      }
  }

  /** One flagged observation from [[anomalyStream]]. */
  case class AnomalyAlert(user_id: Long, event_id: Long, ts_us: Long,
      vc: Long, win_mean: Double, z_score: Option[Double])

  /** C54 STREAMING rolling-z anomaly detection — the continuous twin
    * of the batch flagger (B22, `Resilience.anomalies`): per key the
    * state is the last `window` cent values in (ts, event_id) order —
    * a fixed handful of longs per key, bounded for any stream length —
    * and each arriving value tests the EXACT integer predicate
    * dev² > Z²·varn against the trailing window BEFORE being pushed
    * into it (the same no-self-contamination frame as the batch
    * ROWS BETWEEN −w AND −1). Emits only flagged alerts; constant-
    * window hits carry a null z like the batch twin. Cross-batch
    * contract: per-key in-order delivery (the C31 offset order);
    * in-batch rows are sorted by full-µs event time. Spec pins
    * flag-set equality with the batch operator across micro-batch
    * splits that land MID-window. */
  def anomalyStream(changes: Dataset[Change], window: Int = 7,
      z: Int = 3): Dataset[AnomalyAlert] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Change], state: GroupState[Seq[Long]]) =>
          var q = state.getOption.getOrElse(Seq.empty[Long]).toVector
          val out = inEventOrder(it).flatMap { ch =>
            val vc = math.round(ch.value * 100)
            val res =
              if (q.length == window) {
                val n = window.toLong
                val sx = q.sum
                val sxx = q.map(x => x * x).sum
                val dev = n * vc - sx
                val varn = n * sxx - sx * sx
                if (dev * dev > z.toLong * z * varn)
                  Some(AnomalyAlert(uid, ch.event_id, tsUs(ch.ts), vc,
                    sx.toDouble / (n.toDouble * 100.0),
                    if (varn > 0)
                      Some(dev.toDouble / math.sqrt(varn.toDouble))
                    else None))
                else None
              } else None
            q = (q :+ vc).takeRight(window)
            res
          }
          state.update(q)
          out.iterator
      }
  }

  /** One rolling-median observation from [[medianStream]]. */
  case class MedianPoint(user_id: Long, event_id: Long, ts_us: Long,
      vc: Long, median_cents: Long)

  /** C55 STREAMING rolling EXACT median — the robust-center companion
    * of C54 (a median monitor keeps reporting a sane center THROUGH
    * the exact spikes C54 exists to catch, where the rolling mean is
    * dragged by them): per key the last `window` cent values ride the
    * same bounded state (a handful of longs per key for any stream
    * length); each arriving value first reads the type-1 LOWER median
    * of the trailing window — sorted element ⌈w/2⌉, integer-exact, no
    * interpolation — over the batch ROWS −w..−1 frame (no
    * self-contamination), then joins the window. Cross-batch
    * contract: per-key in-order delivery (C31 offset order); in-batch
    * rows sort by full-µs event time. Spec pins emission equality
    * with a driver-side fold across micro-batch splits that land
    * MID-window. */
  def medianStream(changes: Dataset[Change],
      window: Int = 7): Dataset[MedianPoint] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Change], state: GroupState[Seq[Long]]) =>
          var q = state.getOption.getOrElse(Seq.empty[Long]).toVector
          val out = inEventOrder(it).flatMap { ch =>
            val vc = math.round(ch.value * 100)
            val res =
              if (q.length == window)
                Some(MedianPoint(uid, ch.event_id, tsUs(ch.ts), vc,
                  q.sorted.apply((window - 1) / 2)))
              else None
            q = (q :+ vc).takeRight(window)
            res
          }
          state.update(q)
          out.iterator
      }
  }

  /** One schema-registry update from [[schemaDriftStream]]: a key's
    * registry row after a batch that touched it. */
  case class KeyDrift(key: String, first_day: String, last_day: String,
      n_rows: Long, is_new: Boolean)

  /** C51 STREAMING schema-drift registry — the continuous twin of the
    * batch registry (`Cdc.schemaDrift`): payload keys extracted
    * row-locally (the same no-parse regex contract upstream), sharded
    * by key into `flatMapGroupsWithState`; state is (first_us,
    * last_us, n_rows) — three longs per DISTINCT KEY, so the whole
    * store is vocabulary-bounded regardless of stream length. Each
    * micro-batch emits ONE updated registry row per touched key,
    * flagged `is_new` exactly when the key was never in state — the
    * alert a consumer pages on BEFORE downstream jobs break on the
    * changed contract. Day strings derive from the stored µs, so
    * emitted rows agree with the batch registry on any prefix of the
    * feed (spec-pinned). */
  def schemaDriftStream(keyed: Dataset[(String, java.sql.Timestamp)])
      : Dataset[KeyDrift] = {
    import keyed.sparkSession.implicits._
    def day(us: Long): String =
      java.time.Instant.ofEpochSecond(us / 1000000L)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, java.sql.Timestamp)],
            state: GroupState[(Long, Long, Long)]) =>
          val fresh = !state.exists
          var (first, last, n) = state.getOption
            .getOrElse((Long.MaxValue, Long.MinValue, 0L))
          it.foreach { case (_, ts) =>
            val us = tsUs(ts)
            if (us < first) first = us
            if (us > last) last = us
            n += 1
          }
          state.update((first, last, n))
          Iterator.single(KeyDrift(key, day(first), day(last), n, fresh))
      }
  }

  /** Per-key retraction delta for C39: what this key's transition
    * adds to (or retracts from) its cohort's aggregate. */
  case class MvKeyDelta(user_id: Long, cohort: Long,
      d_keys: Long, d_cents: Long)

  /** C39 streaming incremental MATERIALIZED-VIEW maintenance — the
    * continuous twin of the batch merge (`Cdc.incrAggMerge`): per
    * key, state is the latest applied (cents, deleted) pair; each
    * micro-batch applies the key's changes in COMMIT (event_id)
    * order and emits ONE retraction-style delta row
    * (new contribution − old contribution), exactly the (old, new)
    * pairing a Flink/Materialize changelog carries. Zero-deltas
    * (heartbeats, idempotent re-sends) are suppressed — the C35
    * compaction idea applied to aggregate maintenance. Downstream,
    * the view is current by FOLDING deltas into the base aggregate —
    * delta-sized work per batch, never a corpus re-aggregation; the
    * spec pins fold(deltas) == the batch full recompute across
    * upsert/delete/revive/insert transitions split over batches.
    * State per key: two longs + a flag, bounded for any stream
    * length; cross-batch contract is per-key in-order delivery
    * (the C31 envelope offset order, as [[latestState]]). */
  def mvDeltaStream(changes: Dataset[Change]): Dataset[MvKeyDelta] = {
    import changes.sparkSession.implicits._
    byUser(changes)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[Change],
            state: GroupState[(Long, Boolean, Boolean)]) =>
          val (c0, del0, seen) = state.getOption.getOrElse((0L, true, false))
          val batch = it.toArray
          if (batch.isEmpty) Iterator.empty
          else {
            val last = batch.maxBy(_.event_id)
            val c1 = math.round(last.value * 100)
            val del1 = last.op == "D"
            state.update((c1, del1, true))
            val (k0, s0) = if (seen && !del0) (1L, c0) else (0L, 0L)
            val (k1, s1) = if (!del1) (1L, c1) else (0L, 0L)
            if (k1 - k0 == 0L && s1 - s0 == 0L) Iterator.empty
            else Iterator.single(
              MvKeyDelta(uid, uid % 100, k1 - k0, s1 - s0))
          }
      }
  }

  /** C9 streaming exact dedup: drop duplicate keys across
    * micro-batches with bounded state — late duplicates beyond the
    * watermark age out of the state store instead of growing it
    * forever (the only viable form at 100 TB/day ingest). */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String, delay: String): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** C12 stream-static enrichment: join a change stream against a
    * static dimension (the canonical "enrich events with reference
    * data" shape). Spark broadcasts the static side per micro-batch;
    * at scale the dim is re-read each batch, so slowly-changing dims
    * stay fresh without restarting the query. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** C16 stream-stream interval join: correlate two event streams on
    * a key within a ± time window (click→purchase attribution). Both
    * sides carry watermarks so Spark can discard buffered state once
    * the interval can no longer match — bounded state, the only viable
    * stream-stream join at scale. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String): DataFrame = {
    require(leftTs != rightTs, "sides need distinct timestamp column names")
    val l = left.withWatermark(leftTs, within)
    val r = right.withWatermark(rightTs, within)
      .withColumnRenamed(key, "__rkey")
    l.join(r, org.apache.spark.sql.functions.expr(
        s"$key = __rkey AND $rightTs >= $leftTs" +
          s" AND $rightTs <= $leftTs + interval $within"))
      .drop("__rkey")
  }

  /** C29 stream-stream LEFT OUTER interval join — the attribution
    * query users actually need: every left event emits, matched or
    * not ("which clicks converted, AND which didn't"). Outer-ness is
    * only decidable once the watermark proves no matching right row
    * can still arrive, so unmatched rows emit null-padded AFTER the
    * interval expires (Spark's outer stream-stream contract) — the
    * spec drives the watermark forward and pins both the matched and
    * the late null-padded emissions. Same bounded-state posture as
    * C16: both sides watermarked, state evicted past the interval. */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String): DataFrame = {
    require(leftTs != rightTs, "sides need distinct timestamp column names")
    val l = left.withWatermark(leftTs, within)
    val r = right.withWatermark(rightTs, within)
      .withColumnRenamed(key, "__rkey")
    l.join(r, org.apache.spark.sql.functions.expr(
        s"$key = __rkey AND $rightTs >= $leftTs" +
          s" AND $rightTs <= $leftTs + interval $within"), "left_outer")
      .drop("__rkey")
  }

  /** C20 streaming sessionization via the native `session_window`:
    * events on the same key closer than `gap` merge into one growing
    * session; the watermark finalizes a session once no in-gap event
    * can still arrive, so state per key = OPEN sessions only (bounded,
    * RocksDB-backed at scale) — the streaming twin of the batch
    * gap-sessionization (Cdc.sessionize). Emit in Append mode: each
    * session is output exactly once, when it closes. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      delay: String = "2 hours"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupBy($"user_id", session_window($"ts", gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start").as("start_us"),
        unix_micros($"sw.end").as("end_us"), $"n_events")
  }

  /** C27 late-data observability: total rows the state store dropped
    * because they arrived past the watermark, summed over a query's
    * recent progress. At 100 TB/day this number IS the data-loss SLO
    * of every watermarked aggregate — a silent riser means upstream
    * lag is eating events, and no downstream count looks wrong (the
    * rows simply never existed). Poll it per batch (or diff across
    * polls) and alert; pair with widening the watermark when the
    * budget is real. */
  def rowsDroppedByWatermark(
      q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator)
      .map(_.numRowsDroppedByWatermark)
      .sum

  /** Convenience: run a streaming Dataset to completion against a
    * named in-memory sink (test/smoke harness). */
  def runToMemory[T](ds: Dataset[T], name: String, mode: OutputMode): Unit = {
    val q = ds.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
  }
}
