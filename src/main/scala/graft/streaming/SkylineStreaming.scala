package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.core.Direction
import graft.operators.SkylineOps._

/**
 * Structured-Streaming parity for the reference's streaming jobs
 * (`/root/reference/src/jobs/{batch_job,stream_job}.py`):
 *
 *  - the reference's "batch" job is a streaming query with
 *    `trigger(once=True)` draining a Kafka topic — here any streaming
 *    source (file, rate, Kafka) with `Trigger.AvailableNow` (the
 *    non-deprecated once-trigger);
 *  - the continuous job uses processing-time micro-batches with the
 *    global skyline aggregate in Complete output mode; the running
 *    skyline is re-emitted each micro-batch, monotonically refining —
 *    the same contract as the reference's complete-mode stage 2
 *    (`batch_job.py:196-205`);
 *  - like the reference, state is unbounded by design (no watermark
 *    exists in the reference; the skyline buffer is the state and it is
 *    small for low d).
 *
 * Partition hints are batch-only (not part of this API): a stream needs
 * no hint, since partial aggregation already computes per-task local
 * skylines each micro-batch, and the Dim/Grid hints' bounds pre-pass is
 * a batch RDD job, which a streaming DataFrame cannot run.
 */
object SkylineStreaming {

  /** Decode the reference's CSV wire format (`batch_job.py:92-94`): a
    * `value` payload column of comma-separated coordinates. */
  def fromCsvPayload(raw: DataFrame, schemaDdl: String): DataFrame =
    raw.select(from_csv(col("value").cast("string"), structFromDdl(schemaDdl), Map.empty[String, String]).as("data"))
      .select("data.*")

  /** Decode the reference's JSON local-skyline relay format
    * (`batch_job.py:159-180`): a JSON array of point structs, exploded
    * back to rows. */
  def fromJsonSkylinePayload(raw: DataFrame, schemaDdl: String): DataFrame = {
    val pointSchema = structFromDdl(schemaDdl)
    raw.select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.ArrayType(pointSchema), Map.empty[String, String]).as("pts"))
      .select(explode(col("pts")).as("p"))
      .select("p.*")
  }

  private def structFromDdl(ddl: String) =
    org.apache.spark.sql.types.StructType.fromDDL(ddl)

  /** Encode rows to a JSON-object-per-row `value` payload column, ready
    * for a Kafka (or any payload) sink. */
  def toJsonPayload(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col): _*)).as("value"))

  /** Encode a whole point set as ONE JSON array-of-structs payload — the
    * reference's local-skyline wire format (`batch_job.py:136-141`:
    * `to_json(collect_list(struct(...)))` per partition key). The
    * round-trip inverse of [[fromJsonSkylinePayload]]. */
  def toJsonSkylineArrayPayload(df: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val pointCols = df.columns.filterNot(keyCols.contains).map(col).toSeq
    val payload = to_json(collect_list(struct(pointCols: _*))).as("value")
    if (keyCols.isEmpty) df.agg(payload) // global form (stage-2 output)
    else df.groupBy(keyCols.map(col): _*).agg(payload) // per-key (stage-1 output)
  }

  /**
   * Kafka source with the reference's exact options
   * (`batch_job.py:86-91` / `stream_job.py:87-92`): CSV-in-`value`
   * decode included. `startingOffsets=earliest` reproduces the batch
   * job's drain-the-topic behavior, `latest` the live job's.
   * (Constructs the plan only — this environment has no broker; the
   * decode path is covered by the file-source parity tests.)
   */
  def kafkaPointSource(
      spark: SparkSession, servers: String, topic: String, schemaDdl: String,
      startingOffsets: String = "earliest"): DataFrame =
    fromCsvPayload(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load(),
      schemaDdl)

  /** Kafka sink writer with the reference's topology (update/complete
    * mode, checkpointing — `batch_job.py:144-153`). */
  def kafkaSink(
      result: DataFrame, servers: String, topic: String,
      checkpointDir: String, outputMode: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    toJsonPayload(result).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
      .outputMode(outputMode)
      .trigger(trigger)

  /** Streaming skyline: one global skyline aggregate
    * ([[graft.operators.SkylineAggExpr]]) over the stream — Complete
    * output mode is required by the global aggregate. This is not the
    * batch path: the batch `skyline`'s local stage and parallel verify
    * keep no state across micro-batches, while the aggregate's buffer is
    * the running skyline that Structured Streaming keeps as state.
    * Results are the same sets.
    *
    * No hint/bounds parameters on purpose: a hint only splits the batch
    * local stage's frontiers by cell, and the Dim/Grid bounds pre-pass is
    * a batch RDD job, which a streaming DataFrame cannot run. */
  def skylineStream(
      stream: DataFrame,
      dims: Seq[(String, Direction)],
      dedup: Boolean = false): DataFrame = {
    require(stream.isStreaming, "skylineStream expects a streaming DataFrame")
    // stream_job.py:180: state-backed dropDuplicates on the point columns
    // before the global merge. Like the reference: no watermark, unbounded
    // dedup state by design (the skyline agg itself collapses duplicates,
    // so this only trims merge input, exactly the reference's rationale).
    val input = if (dedup) stream.dropDuplicates(dims.map(_._1)) else stream
    input.skylineKeyed(Nil, dims)
  }

  /**
   * Per-key streaming skylines with custom state
   * (`KeyValueGroupedDataset.mapGroupsWithState`): each key holds its
   * running skyline as group state; every micro-batch folds the new
   * points in with the BNL insert and re-emits the key's refined
   * skyline (Update output mode). This is the stateful-operator form of
   * the reference's per-partition local-skyline stage — state size per
   * key is the skyline itself, the same bound as the batch aggregate.
   * Numeric dimensions only (state is a plain Seq of points).
   */
  /**
   * @param idleTimeout optional processing-time TTL (e.g. "30 minutes"):
   *   a key receiving no points for this long has its state EVICTED
   *   (emitting its final skyline once more) — without it, state grows
   *   with the number of distinct keys ever seen, which is unbounded on
   *   a 100 TB keyspace. A re-appearing key restarts from empty, exactly
   *   like a new key (the reference keeps unbounded state; the TTL is
   *   this engine's production affordance).
   *
   *   CAVEAT: with a timeout configured, Spark treats every batch as
   *   "requiring another batch" (future timeouts may come due), so
   *   `StreamingQuery.processAllAvailable()` never returns and the
   *   default as-fast-as-possible trigger busy-spins empty batches —
   *   drive such queries with `Trigger.ProcessingTime(...)` and
   *   progress/sink polling.
   */
  def skylineByKeyStream(
      stream: DataFrame,
      keyCol: String,
      dims: Seq[(String, Direction)],
      idleTimeout: Option[String] = None): DataFrame = {
    require(stream.isStreaming, "skylineByKeyStream expects a streaming DataFrame")
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val minDir = dims.map(_._2.isMin).toArray
    val keyType = stream.schema(keyCol).dataType
    // The group key travels as its string form and is cast back at the
    // end; that round-trip is lossless for strings, integrals, dates
    // (ISO yyyy-MM-dd), booleans, and decimals (a decimal's canonical
    // string re-parses exactly at the same precision/scale). Float/double
    // keys can collapse distinct values (string form rounds) and
    // timestamp keys shift with the session time zone — reject those
    // loudly.
    keyType match {
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.BooleanType => ()
      case _: org.apache.spark.sql.types.DecimalType => ()
      case other => throw new IllegalArgumentException(
        s"skylineByKeyStream key column '$keyCol' has type $other; " +
          "only string, integral, date, boolean, and decimal keys round-trip " +
          "losslessly through the group key (cast the key to string to force others)")
    }
    // drop rows with null dims — the batch-path contract (the reference
    // drops rows with missing coords); a null element would also break
    // the non-null Seq[Double] encoder below.
    val nonNull = (keyCol +: dims.map(_._1)).map(col(_).isNotNull).reduce(_ && _)
    val proj = stream
      .filter(nonNull)
      .select(col(keyCol).cast("string").as("_k"),
        array(dims.map { case (n, _) => col(n).cast("double") }: _*).as("_p"))
      .as[(String, Seq[Double])]
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    proj
      .groupByKey(_._1)
      .mapGroupsWithState[Seq[Seq[Double]], (String, Seq[Seq[Double]])](
        timeoutConf) { (key, rows, state) =>
        if (state.hasTimedOut) {
          // idle key: emit its final skyline once and evict the state
          val last = state.getOption.getOrElse(Seq.empty)
          state.remove()
          (key, last)
        } else {
          val buf = graft.core.SkylineCore.Frontier.of(
            state.getOption.getOrElse(Seq.empty).map(_.toArray), minDir)
          rows.foreach { case (_, p) => buf.insert(p.toArray) }
          val out = buf.points.map(_.toSeq).toSeq
          state.update(out)
          idleTimeout.foreach(state.setTimeoutDuration)
          (key, out)
        }
      }
      .toDF(keyCol, "skyline")
      // the group key travels as string; restore the input column type
      .withColumn(keyCol, col(keyCol).cast(keyType))
  }

  /** Drain-the-source one-shot run into an in-memory table (the
    * reference's batch_job shape: streaming plan + once-trigger), and
    * return the materialized result. Complete mode re-emits the whole
    * refined result (required by unwatermarked global aggregates); pass
    * `outputMode = "append"` for append-only plans — stream-stream joins
    * and watermarked flows that forbid complete.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` for the drain
    * (restored after): every stateful operator commits one state store
    * per shuffle partition per micro-batch (a stream-stream join commits
    * FOUR), a fixed cost that dwarfs the data when the session default is
    * wide. Size it to the stateful key cardinality — low for a bounded
    * drain, up with cardinality on a real 100 TB run. The width is baked
    * into the checkpoint at first run, so a resumed query must keep it. */
  def runOnce(result: DataFrame, queryName: String,
      outputMode: String = "complete",
      statePartitions: Option[Int] = None): DataFrame =
    runOnceOverlapping(result, queryName, outputMode, statePartitions)(null)._1

  /** [[runOnce]] that additionally materializes an INDEPENDENT
    * batch-side frame WHILE the drain runs (guide §2.6 — overlap
    * independent jobs): a drain is mostly driver/state-store work that
    * leaves executors idle, and the gated streaming queries all follow
    * it with a batch-side exact counterpart that used to evaluate
    * strictly afterwards, inside the final action. `side` is evaluated
    * (localCheckpoint) on the caller thread while the streaming query
    * drains on its own thread, so its jobs back-fill the idle
    * executors; the returned frame is the materialized side, results
    * identical to the sequential shape.
    *
    * Safe with the pinned state width: a StreamExecution CLONES the
    * session (and its SQLConf) at `start()`, so restoring
    * `spark.sql.shuffle.partitions` before the side job runs cannot
    * change the drain's state partitioning — the side job gets the
    * session width, the drain keeps `statePartitions`. */
  def runOnceOverlapping(result: DataFrame, queryName: String,
      outputMode: String = "complete",
      statePartitions: Option[Int] = None)
      (side: => DataFrame): (DataFrame, DataFrame) = {
    val spark = result.sparkSession
    val oldParts = statePartitions.map { n =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      prev
    }
    val q =
      try result.writeStream
        .format("memory")
        .queryName(queryName)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
      finally oldParts.foreach(
        spark.conf.set("spark.sql.shuffle.partitions", _))
    val sideMat =
      try Option(side).map(_.localCheckpoint())
      catch { case t: Throwable => q.stop(); throw t }
    q.awaitTermination()
    (spark.table(queryName), sideMat.orNull)
  }
}
