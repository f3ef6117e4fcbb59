package graft.runtime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.ops.{Robots, WebText}

/** Streaming crawl-frontier link — the discovery stage that closes the
  * crawl loop: consumes fetched pages `(url, html)`, records them as
  * crawled, extracts and RFC 3986-resolves every out-link
  * ([[graft.ops.WebText.resolvedLinkRows]] — relative links included,
  * which on real pages is most of them), merges the BATCH's in-link
  * counts into a persisted per-target count table, and REFRESHES a
  * frontier over it: already-crawled targets anti-joined away, robots
  * admission per registered domain, top-k per domain, and a politeness
  * fetch slot per row (crawl-delay × error-back-off — the q227
  * scheduler as the loop's output contract).
  *
  * Streams:
  *  - `crawledStream` `(url, batch)` — the fetched set, hive-
  *    partitioned by batch id: each micro-batch REWRITES its own
  *    `batch=<id>` directory ([[StreamRegistry.refreshPartition]]), so
  *    a crash-replayed batch replaces its partition instead of
  *    appending duplicates — the log's CONTENTS are exactly-once, not
  *    merely its consumption;
  *  - `linksStream` `(link, batch)` — the out-link log, same
  *    batch-partitioned exactly-once layout. AUDIT ONLY on the refresh
  *    path: the refresh never re-scans it (see scale shape); it exists
  *    so the count table can be rebuilt offline —
  *    `linkCounts(log)` equals the count table EVEN AFTER a replay,
  *    because the replay rewrote its batch partition — and so batch
  *    jobs (q195 and friends) can run over the raw log;
  *  - `countsStream` `(link, host, inlinks, bucket)` — the persisted
  *    in-link count table, hive-partitioned into `numBuckets` FIXED
  *    host-hash buckets and merged incrementally per batch: the
  *    batch's aggregated counts fold into ONLY the buckets the batch
  *    touches, each bucket rotating independently
  *    ([[StreamRegistry.refreshPartition]] — readers see a bucket
  *    whole-old or whole-new, a crash rolls the bucket back). The
  *    merge is EXACTLY-ONCE PER BUCKET under replay: each bucket's
  *    admitted batch id rides inside its rotated directory
  *    (`_batch`, atomic with the bucket's data), so a replay merges
  *    exactly the buckets whose merge hadn't landed;
  *  - `frontierStream` `(domain, url, inlinks, rank, delay_ms,
  *    not_before_ms, bucket)` — the materialized frontier VIEW,
  *    hive-partitioned into the SAME host-hash buckets as the count
  *    table and refreshed INCREMENTALLY: per batch, only the buckets
  *    whose inputs changed (buckets the count merge touched, buckets
  *    of the batch's crawled hosts, and — when extra link channels
  *    are configured — the extras' buckets) recompute and rotate
  *    ([[StreamRegistry.refreshPartition]], per-bucket `_batch`
  *    marks); every other bucket's files RIDE THROUGH untouched. A
  *    host's rows live entirely in one bucket (rank windows partition
  *    by host), so the union of per-bucket refreshes is EXACTLY the
  *    whole-view [[FrontierLink.refreshPlan]] — parity spec-pinned.
  *    Readers see each bucket whole-old or whole-new; `not_before_ms`
  *    is the politeness slot offset — `(rank − 1) ·` the host's
  *    effective delay (robots crawl-delay or `defaultDelayMs`, times
  *    the error-back-off multiplier from `historyStream`) — so wiring
  *    the frontier back into a fetcher yields a schedule, not just a
  *    list. Side-stream updates (robots/history/hints/retry/extras)
  *    propagate on the NEXT batch: each bucket's refresh records its
  *    PER-BUCKET side fingerprint ([[FrontierLink.sideSignatures]] —
  *    host-hashed content hashes, so a side row invalidates exactly
  *    the bucket whose frontier it can affect) and a batch refreshes
  *    every bucket whose recording differs. The loop's own continuous
  *    history appends therefore invalidate only the touched hosts'
  *    buckets — a GLOBAL fingerprint would have degraded to a
  *    full-view refresh every batch — and per-batch work stays
  *    ∝ touched buckets;
  *  - `crawledSetStream` (internal, `<frontier>_crawled_set`)
  *    `(url, bucket)` — the DISTINCT crawled set bucketed by the
  *    TARGET-side host hash, merged per touched bucket like the count
  *    table, so each bucket's frontier recompute anti-joins ONE
  *    partition instead of re-scanning the whole batch-partitioned
  *    crawled audit log (which grows with the crawl);
  *  - optional `robotsStream` `(host, robots_txt)` — admission rules +
  *    crawl delays; absent ⇒ every URL admitted at the default delay;
  *  - optional `historyStream` `(host, status_code)` — RAW fetch
  *    outcomes; when present, hosts with high 5xx/429 shares back off
  *    ([[graft.ops.Robots.backoffSchedule]] step ladder). The raw log
  *    is re-aggregated per evaluation — fine for bounded deployments,
  *    but on a long crawl the log is append-only and grows with every
  *    fetch the loop itself makes: prefer `healthStream`;
  *  - optional `healthStream` — the MAINTAINED `(host, n_fetches,
  *    n_errors, …)` aggregate table a [[HostHealthLink]] keeps over
  *    the same outcomes, hive-partitioned by the SAME host-hash
  *    modulus ([[StreamRegistry.pinBucketCount]] enforces it; set one
  *    of `historyStream`/`healthStream`, not both). The ladder input
  *    becomes [[graft.ops.Robots.backoffFromCounts]] — identical
  *    output by the `backoffSchedule == backoffFromCounts ∘
  *    healthCounts` identity — but each bucket's refresh reads ONE
  *    health partition and the side fingerprint is the partition's
  *    file manifest, so NOTHING in the refresh path scans the raw
  *    fetch log (the 100 TB shape; spec-pinned by the plan walk);
  *  - optional hint streams blended into the frontier's ORDER (the
  *    [[FrontierLink.frontierFromCounts]] integer-micros score —
  *    q259's batch contract): `hintsStream` `(url, changefreq)`
  *    (sitemap hints, q246), `datesStream` `(url, published_ms)`
  *    (publish dates aged against `nowMs`, q245), and
  *    `reputationStream` `(host, pass_rate_micros)` (domain quality,
  *    q201). Absent streams score neutral, so a hint-free loop ranks
  *    exactly as before. ANY side stream (rules, hints, dates,
  *    reputation, retry, health) may be laid out as a bucketed table
  *    (`bucket` hive partition under the SAME pinned modulus — a
  *    [[BucketedSideLink]]/[[HostHealthLink]] output): the refresh
  *    then reads each bucket's PARTITION instead of the whole stream
  *    and fingerprints its file manifest instead of hashing its rows,
  *    which is what keeps url-keyed channels (corpus-shaped at crawl
  *    scale) out of the per-batch scan set. Partition reads are
  *    semantically exact because every side join keys on the same
  *    host (or the url's registered domain) the bucketing hashes —
  *    a side row can only affect frontier rows in its own bucket;
  *  - optional `retryStream` `(host, retry_after_ms)` — explicit
  *    429/503 `Retry-After` demands
  *    ([[graft.ops.Robots.retryAfterDemands]]): a demanding host's
  *    spacing becomes `max(crawl-delay base, demand)` with NO ladder
  *    multiplier (the server's explicit demand overrides the
  *    heuristic, q270) and its first slot waits the demand out;
  *  - optional `extraLinksStreams` — additional `(link)` tables the
  *    refresh unions in READ-ONLY (ownership stays with their
  *    producers): point one at a [[FeedDiscoveryLink]]'s output and
  *    feed-discovered URLs rank in the same frontier as page
  *    out-links (the q239 discovery-channels composition, streaming).
  *
  * Scale shape: per batch, extraction is the scan-stage
  * `resolvedLinkRows` projection over the BATCH only, and the count
  * merge aggregates the BATCH's links (map-side combine) before
  * folding them into the count table — ONE row per distinct target,
  * already aggregated, so per-batch merge READ work is the batch plus
  * the touched buckets, never the raw accumulated link log (which
  * grows with every duplicate sighting and is exactly the re-scan the
  * first implementation paid per batch). Per-batch WRITE work is
  * ∝ the buckets the batch touches — on a real crawl the count table
  * is the corpus-shaped URL universe, and rewriting it whole per
  * micro-batch (the round-13 shape) was O(corpus) write amplification;
  * bucketing caps it at (table/numBuckets) × touched buckets.
  * `numBuckets` is FIXED for the stream's lifetime (persisted beside
  * its schema, validated on start — a changed modulus would split
  * hosts across buckets); size it so table/numBuckets is a
  * comfortable rewrite (a few hundred MB at scale), and note a batch
  * with links to ≥numBuckets distinct hosts still rewrites every
  * bucket — numBuckets trades write amplification against per-batch
  * rotate count. The frontier VIEW inherits the same shape: refresh
  * READ+COMPUTE work is ∝ touched buckets too (per bucket: one count
  * partition + one crawled-set partition + the bounded side streams),
  * never the whole count table — the semi-join-recompute /
  * ride-through discipline of [[BitextHarvestLink]]. The refresh plan
  * provably never touches `linksStream` ([[FrontierLink.refreshPlan]]
  * is the whole-view reference the spec walks;
  * [[FrontierLink.refreshBucketPlan]] is the per-bucket restriction
  * the link materializes). The per-domain top-k keeps the
  * `row_number ≤ k` filter directly above its window so
  * `InferWindowGroupLimit` prunes map-side (the politenessSchedule
  * shape). `extraLinksStreams` ARE re-aggregated per refresh — they
  * are the discovery side channels (feeds, sitemaps), orders of
  * magnitude smaller than the link log; an extra channel that grows
  * log-shaped should get its own FrontierLink instead. */
class FrontierLink(input: String, crawledStream: String,
                   linksStream: String, frontierStream: String,
                   robotsStream: String = "", agent: String = "graftbot",
                   topKPerDomain: Int = 3,
                   extraLinksStreams: Seq[String] = Nil,
                   historyStream: String = "",
                   defaultDelayMs: Long = 1000L,
                   countsStream: String = "",
                   numBuckets: Int = 16,
                   hintsStream: String = "", datesStream: String = "",
                   reputationStream: String = "",
                   nowMs: Long = 0L,
                   retryStream: String = "",
                   healthStream: String = "") extends Link {
  require(topKPerDomain >= 1, s"topKPerDomain >= 1, got $topKPerDomain")
  require(defaultDelayMs >= 0, s"negative defaultDelayMs: $defaultDelayMs")
  require(numBuckets >= 1, s"numBuckets >= 1, got $numBuckets")
  require(historyStream.isEmpty || healthStream.isEmpty,
    "set historyStream (raw log) OR healthStream (maintained " +
      "aggregate), not both — two ladder inputs would double-join")
  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None // onBatch: four streams below

  private val countsName =
    if (countsStream.nonEmpty) countsStream else s"${frontierStream}_counts"
  private val crawledSetName = s"${frontierStream}_crawled_set"

  private val crawledSchema = StructType(Seq(
    StructField("url", StringType), StructField("batch", LongType)))
  private val crawledSetSchema = StructType(Seq(
    StructField("url", StringType), StructField("bucket", IntegerType)))
  private val linkSchema = StructType(Seq(
    StructField("link", StringType), StructField("batch", LongType)))
  private val countsSchema = StructType(Seq(
    StructField("link", StringType), StructField("host", StringType),
    StructField("inlinks", LongType), StructField("bucket", IntegerType)))
  private val frontierSchema = StructType(Seq(
    StructField("domain", StringType), StructField("url", StringType),
    StructField("inlinks", LongType), StructField("rank", LongType),
    StructField("delay_ms", LongType), StructField("not_before_ms", LongType),
    StructField("bucket", IntegerType)))

  override def checkpointTarget: String = frontierStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(crawledStream, crawledSchema, Seq("batch"))
    registry.declare(crawledSetName, crawledSetSchema, Seq("bucket"))
    registry.declare(linksStream, linkSchema, Seq("batch"))
    registry.declare(countsName, countsSchema, Seq("bucket"))
    registry.declare(frontierStream, frontierSchema, Seq("bucket"))
    // the bucket modulus is part of ALL THREE bucketed tables' layout —
    // persisted beside each schema, validated every start (one modulus:
    // the frontier recompute pairs count partition k with crawled-set
    // partition k)
    registry.pinBucketCount(countsName, numBuckets)
    registry.pinBucketCount(crawledSetName, numBuckets)
    registry.pinBucketCount(frontierStream, numBuckets)
    // a bucketed health table must share the modulus (its partitions
    // are read per frontier bucket) — pinning here makes a mismatched
    // HostHealthLink fail loudly at ITS start, not silently misread
    if (healthStream.nonEmpty)
      registry.pinBucketCount(healthStream, numBuckets)
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    val b = batch.select(col("url"), col("html")).localCheckpoint()
    // audit writes are batch-partition REWRITES, not appends: a
    // crash-replayed batch replaces its own batch=<id> directory,
    // so the logs' contents stay exactly-once and the offline
    // rebuild invariant counts == linkCounts(log) survives replay
    registry.refreshPartition(crawledStream, batchId,
      b.select(col("url")))
    // crawled-SET merge: the distinct crawled urls, bucketed by the
    // TARGET-side host hash (a crawled url evicts the count row
    // whose link equals it — same registeredDomain, same bucket),
    // merged per touched bucket with the count-table discipline so
    // each frontier recompute anti-joins exactly one partition
    val bcr = b.select(col("url")).distinct()
      .withColumn("bucket", FrontierLink.bucketOf(
        WebText.registeredDomain(col("url")), numBuckets))
      .localCheckpoint()
    val crawledTouched = registry.mergeBuckets(crawledSetName, bcr,
      batchId)((old, slice) => old.unionByName(slice).distinct())
    // ONE extraction per batch feeds both the audit log and the
    // count merge (they must agree row-for-row)
    val batchLinks = WebText.resolvedLinkRows(b, "url", "html")
      .select(col("link")).localCheckpoint()
    registry.refreshPartition(linksStream, batchId, batchLinks)
    // incremental count merge, bucket by bucket: only the buckets
    // the batch touches are read + rewritten; each bucket's _batch
    // mark rides its own rotate, so a replay merges exactly the
    // buckets whose merge hadn't landed (exactly-once per bucket)
    val bc = FrontierLink.linkCounts(batchLinks)
      .withColumn("bucket", FrontierLink.bucketOf(col("host"), numBuckets))
      .localCheckpoint()
    val touched = registry.mergeBuckets(countsName, bc, batchId) {
      (old, slice) => old.unionByName(slice)
        .groupBy("link", "host").agg(sum("inlinks").as("inlinks"))
    }
    // INCREMENTAL frontier refresh: only the buckets whose inputs
    // changed can change rank — buckets the count merge touched,
    // buckets of the batch's crawled hosts (their rows must leave
    // the view), the extras' buckets, and — the side channel —
    // every previously-refreshed bucket whose recorded PER-BUCKET
    // side signature differs: a robots/history/hint/retry update
    // affects hosts in buckets no link touched, and serving them
    // stale until something else lands there would keep a fetcher
    // scheduling now-disallowed or now-backed-off URLs. The
    // signatures cost one scan per BOUNDED side stream per batch
    // (the r14 whole-view refresh re-read them per batch too);
    // bucket scope means the loop's own history appends invalidate
    // only the touched hosts' buckets, so steady-state view work
    // stays ∝ touched buckets.
    // Extras aggregate ONCE per batch (bucketed + materialized) —
    // the per-bucket refreshes slice this frame instead of
    // re-scanning the channels once per touched bucket.
    val extras = FrontierLink.extrasCounts(registry,
      extraLinksStreams, numBuckets)
    // extras force-touch ONLY buckets with no frontier partition
    // yet (first materialization — nothing recorded a signature to
    // diff against); thereafter the graft_extras side signature
    // drives refreshes on CHANGE. Unconditional force-touch would
    // rewrite every extras-populated bucket every batch even when
    // no channel changed — exactly the ∝-touched-buckets claim
    // this link makes.
    val extraTouched: Seq[Int] = extras
      .map(_.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
        .filter(b => registry
          .refreshPartitionMeta(frontierStream, b, "batch").isEmpty))
      .getOrElse(Nil)
    val sideSigs = FrontierLink.sideSignatures(registry, numBuckets,
      hostKeyed = Seq(robotsStream, historyStream, reputationStream,
        retryStream, healthStream),
      urlKeyed = Seq(hintsStream, datesStream), extras = extras)
    val sideChanged: Seq[Int] = (0 until numBuckets).filter { bkt =>
      registry.refreshPartitionMeta(frontierStream, bkt, "batch")
        .isDefined &&
        !registry.refreshPartitionMeta(frontierStream, bkt, "sides")
          .contains(sideSigs(bkt))
    }
    val frontierTouched = (touched ++ crawledTouched ++
      extraTouched ++ sideChanged).distinct.sorted
    frontierTouched.foreach { bkt =>
      val done = registry
        .refreshPartitionMeta(frontierStream, bkt, "batch")
        .exists(_.toLong >= batchId) &&
        registry.refreshPartitionMeta(frontierStream, bkt, "sides")
          .contains(sideSigs(bkt))
      if (!done) {
        registry.refreshPartition(frontierStream, bkt,
          FrontierLink.refreshBucketPlanFrom(registry, countsName,
            crawledSetName, bkt, extras, robotsStream,
            historyStream, agent, topKPerDomain, defaultDelayMs,
            hintsStream, datesStream, reputationStream, nowMs,
            retryStream, healthStream),
          Map("batch" -> batchId.toString,
            "sides" -> sideSigs(bkt)))
      }
    }
  }
}

object FrontierLink {
  /** Per-target in-link counts with the target's registered domain —
    * the aggregation shape shared by the per-batch merge and the batch
    * reference plan. */
  def linkCounts(links: DataFrame): DataFrame =
    links
      .select(col("link"), WebText.registeredDomain(col("link")).as("host"))
      .groupBy("link", "host").agg(count(lit(1)).as("inlinks"))

  /** The count table's host-hash bucket id
    * ([[StreamRegistry.bucketOf]], the one layout-defining hash).
    * Bucketing by HOST keeps a host's whole URL neighborhood in one
    * bucket, so a polite per-host batch touches one bucket. */
  def bucketOf(host: Column, numBuckets: Int): Column =
    StreamRegistry.bucketOf(host, numBuckets)

  /** Freshness weight (micros) per sitemap `changefreq` token — the
    * q246 hint vocabulary folded into the frontier's order. Unknown /
    * absent tokens score [[NeutralMicros]] (a missing hint must not
    * penalize a URL against one that was merely never sitemapped). */
  val FreshnessMicros: Map[String, Long] = Map(
    "always" -> 1000000L, "hourly" -> 900000L, "daily" -> 750000L,
    "weekly" -> 500000L, "monthly" -> 250000L, "yearly" -> 100000L,
    "never" -> 0L)

  /** The neutral score (micros) a URL gets on any signal it carries no
    * evidence for. */
  val NeutralMicros: Long = 500000L

  /** The frontier view as a function of a COUNT table: crawled URLs
    * anti-joined away, optional robots admission on the target's
    * registered domain, a HINT-BLENDED rank per domain, then the
    * politeness schedule — each row's `not_before_ms` is `(rank − 1) ·`
    * the host's effective delay: robots crawl-delay (or
    * `defaultDelayMs`) × the error-back-off multiplier from the fetch
    * history. `robots`/`history` absent ⇒ everything admitted at the
    * default delay, multiplier 1. `retry` = `(host, retry_after_ms)`
    * explicit 429/503 demands
    * ([[graft.ops.Robots.retryAfterDemands]]): a demanding host's
    * spacing becomes `max(base, demand)` with NO ladder multiplier and
    * its first slot starts at the demand (q270).
    *
    * Ranking: per host by `score_micros` desc, inlinks desc, url asc,
    * where the score blends the crawl's four ranking signals in EXACT
    * integer micros (every term re-derivable by an engine-independent
    * oracle — q259):
    *
    *   `score = (4·inlink + 2·fresh + 1·recency + 3·reputation) / 10`
    *
    *  - inlink evidence: `least(inlinks, 16) · 62500` — capped so a
    *    link-farmed URL can't drown every other signal;
    *  - fresh: [[FreshnessMicros]] of the URL's sitemap `changefreq`
    *    (`hints` = `(url, changefreq)`, the q246 extraction);
    *  - recency: `max(0, 1e6 − age_days·10000)` — zero past 100 days
    *    (`dates` = `(url, published_ms)` epoch millis, the q245
    *    extraction, aged against `nowMs`);
    *  - reputation: the host's quality pass-rate in micros, clamped to
    *    [0, 1e6] (`reputation` = `(host, pass_rate_micros)`, the q201
    *    aggregate).
    *
    * Every absent frame/row scores [[NeutralMicros]] on its signal;
    * with NO hint frames the blend is monotone in `least(inlinks, 16)`
    * and the (score, inlinks, url) order reduces EXACTLY to the
    * original (inlinks desc, url asc) — hint-free deployments see an
    * unchanged frontier.
    *
    * Scale shape: the hint joins are link-keyed left joins AFTER the
    * robots gate (hint tables — sitemap-listed URLs, dated articles —
    * are orders smaller than the URL universe; the reputation join is
    * host-keyed and broadcast-sized); the blend itself is a scan-stage
    * integer projection, and the top-k window keeps the bare
    * `row_number ≤ literal` InferWindowGroupLimit shape. */
  def frontierFromCounts(counts: DataFrame, crawled: DataFrame,
                         robots: Option[DataFrame],
                         history: Option[DataFrame], agent: String,
                         topKPerDomain: Int,
                         defaultDelayMs: Long = 1000L,
                         hints: Option[DataFrame] = None,
                         dates: Option[DataFrame] = None,
                         reputation: Option[DataFrame] = None,
                         nowMs: Long = 0L,
                         retry: Option[DataFrame] = None,
                         health: Option[DataFrame] = None): DataFrame = {
    val fresh = counts.join(crawled.select(col("url").as("link")).distinct(),
      Seq("link"), "left_anti")
    val gated = robots match {
      case Some(r) =>
        Robots.isAllowed(
            fresh.withColumn("path", regexp_extract(col("link"),
              "^[a-zA-Z]+://[^/]*(/.*)?$", 1)),
            Robots.parseRobots(r), agent)
          .filter(col("allowed"))
          .select("link", "host", "inlinks")
      case None => fresh
    }
    // every hint side is PRE-AGGREGATED to one row per key before its
    // left join: a URL listed in two sitemaps (or dated twice) must
    // not fan the frontier out to two ranked rows — the dedup the
    // crawled side gets via .distinct(), applied to each signal with
    // a deterministic winner (freshest hint, newest date, best rate)
    val withFresh = hints match {
      case Some(h) => gated.join(
        h.select(col("url").as("link"),
            coalesce(element_at(typedLit(FreshnessMicros),
              lower(col("changefreq"))), lit(NeutralMicros))
              .as("graft_fresh0"))
          .groupBy("link").agg(max("graft_fresh0").as("graft_fresh")),
        Seq("link"), "left")
      case None => gated.withColumn("graft_fresh", lit(null).cast("long"))
    }
    val withDate = dates match {
      case Some(dd) => withFresh.join(
        dd.select(col("url").as("link"), col("published_ms"))
          .groupBy("link").agg(max("published_ms").as("published_ms")),
        Seq("link"), "left")
      case None => withFresh.withColumn("published_ms", lit(null).cast("long"))
    }
    val withRep = reputation match {
      case Some(r) => withDate.join(
        r.groupBy("host").agg(max("pass_rate_micros").as("pass_rate_micros")),
        Seq("host"), "left")
      case None =>
        withDate.withColumn("pass_rate_micros", lit(null).cast("long"))
    }
    val freshScore = coalesce(col("graft_fresh"), lit(NeutralMicros))
    // clamp BEFORE the day division: truncating and flooring agree on
    // non-negatives, so the oracle's // can never drift from div.
    // Null handling is an EXPLICIT isNull branch on each signal:
    // Spark's greatest/least SKIP nulls rather than propagate them, so
    // a coalesce around the clamp would never fire — an undated URL
    // would score age 0 (maximum recency) and an unmeasured host would
    // clamp to 0 (minimum reputation), inverting both signals for
    // exactly the rows that carry no evidence.
    val ageDays = call_function("div",
      greatest(lit(0L), lit(nowMs) - col("published_ms")), lit(86400000L))
    val recScore = when(col("published_ms").isNull, lit(NeutralMicros))
      .otherwise(greatest(lit(0L), lit(1000000L) - ageDays * 10000L))
    val repScore = when(col("pass_rate_micros").isNull, lit(NeutralMicros))
      .otherwise(least(greatest(col("pass_rate_micros"), lit(0L)),
        lit(1000000L)))
    val scored = withRep.withColumn("graft_score", call_function("div",
      least(col("inlinks"), lit(16L)) * 62500L * 4L +
        freshScore * 2L + recScore + repScore * 3L, lit(10L)))
    val w = Window.partitionBy("host")
      .orderBy(col("graft_score").desc, col("inlinks").desc,
        col("link").asc)
    // bare row_number ≤ literal directly over the window — the
    // InferWindowGroupLimit contract (see Robots.politenessSchedule)
    val ranked = scored.withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") <= topKPerDomain)
    // effective per-host delay: crawl-delay (default when the host has
    // none / no robots) × back-off multiplier (1 when healthy / no
    // history). Both sides are one-row-per-host tiny → AQE broadcasts.
    val withDelay = robots match {
      case Some(r) => ranked.join(Robots.parseCrawlDelays(r, agent)
        .select(col("host"), col("crawl_delay_ms")), Seq("host"), "left")
      case None => ranked.withColumn("crawl_delay_ms", lit(null).cast("long"))
    }
    // the ladder multiplier comes from the RAW log (`history`,
    // re-aggregated here) or the MAINTAINED aggregate (`health` —
    // (host, n_fetches, n_errors) rows, the HostHealthLink table):
    // identical output by the backoffSchedule == backoffFromCounts ∘
    // healthCounts identity, but the aggregate input stays
    // host-cardinality where the log grows with every fetch ever made
    val withMult = (history, health) match {
      case (Some(h), _) => withDelay.join(Robots.backoffSchedule(h)
        .select(col("host"), col("backoff_multiplier")), Seq("host"), "left")
      case (None, Some(hc)) => withDelay.join(Robots.backoffFromCounts(hc)
        .select(col("host"), col("backoff_multiplier")), Seq("host"), "left")
      case _ =>
        withDelay.withColumn("backoff_multiplier", lit(null).cast("long"))
    }
    // explicit Retry-After demands (`retry` = (host, retry_after_ms),
    // the Robots.retryAfterDemands aggregate — pre-aggregated again
    // here to the max per host, the hint-side one-row-per-key rule):
    // an explicit 429/503 demand OVERRIDES the error-ladder heuristic
    // for its host — the per-request spacing becomes
    // max(crawl-delay base, the demand) with NO ladder multiplier, and
    // the host's FIRST slot waits the demand out (not_before starts at
    // retry_after_ms: "don't come back for N seconds" gates the next
    // request, not just the spacing). Hosts without a demand keep the
    // base × ladder cadence exactly as before.
    val withRetry = retry match {
      case Some(r) => withMult.join(
        r.groupBy("host").agg(max("retry_after_ms").as("retry_after_ms")),
        Seq("host"), "left")
      case None =>
        withMult.withColumn("retry_after_ms", lit(null).cast("long"))
    }
    val baseDelay = coalesce(col("crawl_delay_ms"), lit(defaultDelayMs))
    withRetry
      .withColumn("graft_delay",
        when(col("retry_after_ms").isNotNull,
          greatest(baseDelay, col("retry_after_ms")))
          .otherwise(baseDelay * coalesce(col("backoff_multiplier"), lit(1L))))
      .select(col("host").as("domain"), col("link").as("url"),
        col("inlinks"), col("graft_rn").cast("long").as("rank"),
        col("graft_delay").as("delay_ms"),
        (coalesce(col("retry_after_ms"), lit(0L)) +
          (col("graft_rn") - 1).cast("long") * col("graft_delay"))
          .as("not_before_ms"))
  }

  /** The frontier computation as a function of the RAW link log — the
    * batch reference plan the streaming refresh is spec-pinned equal
    * to (and the q195 shape): count, gate, hint-blend, rank,
    * schedule. */
  def frontierPlan(links: DataFrame, crawled: DataFrame,
                   robots: Option[DataFrame], agent: String,
                   topKPerDomain: Int,
                   history: Option[DataFrame] = None,
                   defaultDelayMs: Long = 1000L,
                   hints: Option[DataFrame] = None,
                   dates: Option[DataFrame] = None,
                   reputation: Option[DataFrame] = None,
                   nowMs: Long = 0L,
                   retry: Option[DataFrame] = None,
                   health: Option[DataFrame] = None): DataFrame =
    frontierFromCounts(linkCounts(links), crawled, robots, history, agent,
      topKPerDomain, defaultDelayMs, hints, dates, reputation, nowMs, retry,
      health)

  /** ONE bucket's slice of the frontier view — the DataFrame a
    * [[FrontierLink]] refresh materializes per TOUCHED bucket: the
    * bucket's count partition (plus the extras' rows hashing to it),
    * anti-joined against the bucket's crawled-set partition, through
    * [[frontierFromCounts]]. A host's rows live entirely in one
    * bucket (every window/join here keys on host or link), so the
    * union of all buckets' plans is EXACTLY [[refreshPlan]] — which
    * is what lets untouched buckets ride through as files. Reads are
    * direct partition loads ([[StreamRegistry.readPartition]] — no
    * whole-table listing) plus the bounded side streams. */
  def refreshBucketPlan(registry: StreamRegistry, countsStream: String,
                        crawledSetStream: String, bucket: Int,
                        numBuckets: Int,
                        extraLinksStreams: Seq[String],
                        robotsStream: String, historyStream: String,
                        agent: String, topKPerDomain: Int,
                        defaultDelayMs: Long,
                        hintsStream: String = "", datesStream: String = "",
                        reputationStream: String = "",
                        nowMs: Long = 0L,
                        retryStream: String = "",
                        healthStream: String = ""): DataFrame =
    refreshBucketPlanFrom(registry, countsStream, crawledSetStream,
      bucket, extrasCounts(registry, extraLinksStreams, numBuckets),
      robotsStream, historyStream, agent, topKPerDomain, defaultDelayMs,
      hintsStream, datesStream, reputationStream, nowMs, retryStream,
      healthStream)

  /** The extra discovery channels aggregated ONCE into a bucketed
    * `(link, host, inlinks, bucket)` frame (None with no channels) —
    * computed per batch and SLICED per touched bucket by the refresh
    * loop, so an extra channel is scanned once per batch rather than
    * once per touched bucket. */
  def extrasCounts(registry: StreamRegistry,
                   extraLinksStreams: Seq[String],
                   numBuckets: Int): Option[DataFrame] = {
    val ex = extraLinksStreams.filter(registry.exists)
      .map(n => linkCounts(registry.read(n).select(col("link"))))
    if (ex.isEmpty) None
    else Some(ex.reduce(_ unionByName _)
      .groupBy("link", "host").agg(sum("inlinks").as("inlinks"))
      .withColumn("bucket", bucketOf(col("host"), numBuckets))
      .localCheckpoint())
  }

  /** [[refreshBucketPlan]] over a PRE-AGGREGATED extras frame (the
    * [[extrasCounts]] shape) — the form the refresh loop uses so the
    * extra channels are not re-scanned per bucket. Side streams laid
    * out as bucketed tables (SAME pinned modulus as the count store —
    * required, a different modulus would silently read the wrong
    * bucket) are read as ONE partition here; flat side streams read
    * whole (bounded by contract). The partition read is exact: every
    * side join keys on the host (or the url's registered domain) the
    * bucketing hashes, so rows outside bucket `b` can never join
    * bucket `b`'s count rows. */
  def refreshBucketPlanFrom(registry: StreamRegistry,
                            countsStream: String,
                            crawledSetStream: String, bucket: Int,
                            extras: Option[DataFrame],
                            robotsStream: String, historyStream: String,
                            agent: String, topKPerDomain: Int,
                            defaultDelayMs: Long,
                            hintsStream: String = "",
                            datesStream: String = "",
                            reputationStream: String = "",
                            nowMs: Long = 0L,
                            retryStream: String = "",
                            healthStream: String = ""): DataFrame = {
    val base = registry.readPartition(countsStream, bucket)
    val counts = extras match {
      case None => base
      case Some(e) => base
        .unionByName(e.filter(col("bucket") === bucket).drop("bucket"))
        .groupBy("link", "host").agg(sum("inlinks").as("inlinks"))
    }
    val modulus = registry.bucketCountOf(countsStream)
    def opt(name: String): Option[DataFrame] =
      if (name.isEmpty || !registry.exists(name)) None
      else if (registry.partitionsOf(name) == Seq("bucket")) {
        require(modulus.isDefined &&
          registry.bucketCountOf(name) == modulus,
          s"bucketed side stream '$name' uses modulus " +
            s"${registry.bucketCountOf(name).getOrElse("<unpinned>")} " +
            s"but the count store '$countsStream' is pinned to " +
            s"${modulus.getOrElse("<unpinned>")} — per-bucket side " +
            "reads need ONE modulus")
        Some(registry.readPartition(name, bucket))
      } else Some(registry.read(name))
    frontierFromCounts(counts,
      registry.readPartition(crawledSetStream, bucket),
      opt(robotsStream), opt(historyStream), agent, topKPerDomain,
      defaultDelayMs, opt(hintsStream), opt(datesStream),
      opt(reputationStream), nowMs, opt(retryStream), opt(healthStream))
  }

  /** PER-BUCKET fingerprints of the refresh's bounded SIDE streams —
    * recorded in each frontier bucket's refresh meta, so a
    * robots/history/hint/retry/extra-channel update refreshes every
    * bucket it actually invalidated on the NEXT batch. Without the
    * mechanism a host's new Disallow or Retry-After would stay
    * unapplied until some link or crawl happened to touch its bucket;
    * with a GLOBAL fingerprint the loop's own continuous side appends
    * (every batch writes fetch history) would invalidate EVERY bucket
    * every batch — a full-view refresh per batch, exactly the
    * O(corpus) shape the bucketing removed. Bucket scope keeps the
    * steady state honest: a history row for host h changes h's
    * bucket's signature alone, and h's bucket is usually already in
    * the touched set.
    *
    * Per FLAT side stream: one scan projecting
    * `(host-hash bucket, xxhash64(row))`, aggregated to ≤ numBuckets
    * `(modular sum, count, bit_xor, min, max)` rows (order-insensitive
    * content hash with four independent combiners, map-side combined,
    * collected control-plane) — flat side streams are the
    * refresh's BOUNDED inputs by contract (the r14 whole-view refresh
    * re-read them per batch too; what must never re-scan per batch is
    * the count/crawled universe, and doesn't). Host-keyed streams
    * hash their `host` column; url-keyed hint streams hash
    * `registeredDomain(url)` — the same bucketing as the count table,
    * so a side row lands in exactly the bucket whose frontier rows it
    * can affect.
    *
    * A side stream laid out as a BUCKETED table (same pinned modulus
    * — [[HostHealthLink]] / [[BucketedSideLink]] outputs) is never
    * scanned at all: its per-bucket fingerprint is the partition's
    * FILE MANIFEST ([[StreamRegistry.partitionManifest]] — rotates
    * write fresh uniquely-named part files, appends add files, so the
    * manifest changes exactly when the partition's contents can
    * have). That is what takes the log-shaped channels (fetch
    * history via the health table, url-keyed hints/dates) out of the
    * per-batch scan set entirely: numBuckets FS listings per stream,
    * zero rows read. */
  def sideSignatures(registry: StreamRegistry, numBuckets: Int,
                     hostKeyed: Seq[String], urlKeyed: Seq[String],
                     extras: Option[DataFrame]): Map[Int, String] = {
    // per-row xxhash64 values fold with FOUR order-insensitive
    // combiners — sum of bounded moduli (< 2^30 each, so the sum never
    // overflows ANSI Long arithmetic), bit_xor of the FULL 64-bit
    // hash, and the min/max full hashes — plus the row count. A
    // (sum, count) pair alone could stay fixed under two offsetting
    // row changes (equal count, colliding modular sums — ~2^-30, real
    // at crawl-batch rates); a silent collision across ALL of xor,
    // min, max AND the modular sum requires simultaneous independent
    // 64-bit coincidences, which is not a plannable event.
    def sig(df: DataFrame, bucketCol: Column,
            content: Column): Map[Int, Seq[Long]] =
      df.select(bucketCol.as("graft_b"),
          xxhash64(content).as("graft_h"))
        .groupBy("graft_b")
        .agg(sum(pmod(col("graft_h"), lit(1000000007L))).as("graft_s"),
          count(lit(1)).as("graft_c"),
          call_function("bit_xor", col("graft_h")).as("graft_x"),
          min("graft_h").as("graft_mn"), max("graft_h").as("graft_mx"))
        .collect()
        .map(r => r.getInt(0) -> Seq(r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    def existing(names: Seq[String]): Seq[String] =
      names.filter(n => n.nonEmpty && registry.exists(n)).distinct.sorted
    def contentPart(n: String, key: Column): (String, Int => String) = {
      val df = registry.read(n)
      val m = sig(df, StreamRegistry.bucketOf(key, numBuckets),
        struct(df.columns.map(col): _*))
      n -> ((b: Int) => m.getOrElse(b, Seq(0L, 0L, 0L, 0L, 0L))
        .mkString(","))
    }
    // bucketed tables (same modulus, enforced like the refresh reads)
    // fingerprint by FILE MANIFEST — no data scan
    def manifestPart(n: String): (String, Int => String) = {
      require(registry.bucketCountOf(n).contains(numBuckets),
        s"bucketed side stream '$n' uses modulus " +
          s"${registry.bucketCountOf(n).getOrElse("<unpinned>")} but " +
          s"this refresh uses $numBuckets")
      n -> ((b: Int) => registry.partitionManifest(n, b)
        .map { case (f, sz) => s"$f:$sz" }.mkString(","))
    }
    def isBucketed(n: String): Boolean =
      registry.partitionsOf(n) == Seq("bucket")
    val parts: Seq[(String, Int => String)] =
      existing(hostKeyed).map { n =>
        if (isBucketed(n)) manifestPart(n)
        else contentPart(n, col("host"))
      } ++ existing(urlKeyed).map { n =>
        if (isBucketed(n)) manifestPart(n)
        else contentPart(n, graft.ops.WebText.registeredDomain(col("url")))
      } ++ extras.map { e =>
        // extrasCounts is already bucketed — hash its rows per bucket
        val m = sig(e, col("bucket"),
          struct(col("link"), col("host"), col("inlinks")))
        "graft_extras" -> ((b: Int) =>
          m.getOrElse(b, Seq(0L, 0L, 0L, 0L, 0L)).mkString(","))
      }
    (0 until numBuckets).map { b =>
      val d = java.security.MessageDigest.getInstance("MD5")
      parts.foreach { case (n, f) =>
        d.update(s"$n=${f(b)};".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      }
      b -> d.digest().map("%02x".format(_)).mkString
    }.toMap
  }

  /** The WHOLE frontier view as a function of the registry state — the
    * reference plan the per-bucket refreshes union to (parity
    * spec-pinned), exposed so the scale spec can plan-walk it: its
    * scans read the count table, the crawled set, and the (bounded)
    * rule/history/extra side streams — NEVER the raw accumulated
    * `linksStream` log. Extra link channels are aggregated and summed
    * into the counts here (read-only). `crawledStream` may be any
    * stream carrying a `url` column (the batch-partitioned audit log
    * or the bucketed crawled set — both hold the same url set). */
  def refreshPlan(registry: StreamRegistry, countsStream: String,
                  extraLinksStreams: Seq[String], crawledStream: String,
                  robotsStream: String, historyStream: String,
                  agent: String, topKPerDomain: Int,
                  defaultDelayMs: Long,
                  hintsStream: String = "", datesStream: String = "",
                  reputationStream: String = "",
                  nowMs: Long = 0L,
                  retryStream: String = "",
                  healthStream: String = ""): DataFrame = {
    // the bucket column is merge-path layout, not frontier input
    val base = registry.read(countsStream).select("link", "host", "inlinks")
    val extras = extraLinksStreams.filter(registry.exists)
      .map(n => linkCounts(registry.read(n).select(col("link"))))
    val counts =
      if (extras.isEmpty) base
      else (base +: extras).reduce(_ unionByName _)
        .groupBy("link", "host").agg(sum("inlinks").as("inlinks"))
    // the whole-view reference reads side streams whole either way; a
    // bucketed side table's layout column is dropped (merge-path
    // metadata, not frontier input)
    def opt(name: String): Option[DataFrame] =
      if (name.nonEmpty && registry.exists(name))
        Some(registry.read(name).drop("bucket"))
      else None
    frontierFromCounts(counts, registry.read(crawledStream),
      opt(robotsStream), opt(historyStream), agent, topKPerDomain,
      defaultDelayMs, opt(hintsStream), opt(datesStream),
      opt(reputationStream), nowMs, opt(retryStream), opt(healthStream))
  }
}
