package graft.runtime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import graft.ops.Dedup

/** Streaming incremental near-dup gate — [[graft.ops.Dedup.minHashLshAgainstCorpusBanded]]
  * composed into a runtime [[Link]] (the streaming sibling of the exact
  * Bloom gate in `Dedup.dedupAgainstCorpus`, and the near-dup analog of
  * the exact-dedup `CurationLink` shape): each micro-batch of arriving
  * documents is screened against the ACCEPTED corpus stream; confirmed
  * pairs `(doc_new, doc_corpus, jaccard)` are appended to `pairsStream`,
  * and only documents with NO confirmed match are appended to
  * `corpusStream` — so later batches are screened against everything
  * admitted before them, incrementally, without ever re-pairing
  * corpus × corpus.
  *
  * **Amortized corpus prep.** The corpus's MinHash band projection is a
  * pure function of the corpus stream, so the gate persists it as its own
  * registry stream (`bandsStream`, `(doc_id, band)` — 32 longs per doc)
  * and appends each admitted survivor's bands ALONGSIDE admission. A
  * batch's screen therefore reads the compact band index and the batch
  * itself; corpus TEXT is only touched for confirmed-candidate docs (the
  * [[Dedup.minHashLshAgainstCorpusBanded]] contract) — per-batch work is
  * Σ over the batch's band keys of the corpus band df, NOT a corpus
  * re-shingle. A pre-existing corpus (seeded before the gate first ran)
  * is back-filled into the band stream ONCE, when the gate first creates
  * it.
  *
  * Semantics and contracts:
  *  - the corpus-side hot-band cap DEFAULTS ON ([[Dedup.DefaultHotKeyCap]])
  *    as at every cluster-level dedup entry point;
  *  - near-dups WITHIN one micro-batch are admitted together (the gate
  *    compares arrivals to the accepted corpus, not to each other) —
  *    micro-batch granularity is the screening granularity; shrink the
  *    trigger interval for a tighter gate, or run the batch clusterers
  *    (`nearDupClusters*`) as a periodic sweep over the corpus stream;
  *  - offsets are exactly-once (the link checkpoint), so a replay with no
  *    new input appends nothing; the three side-effect writes inside the
  *    batch are at-least-once under a mid-batch crash, like any
  *    foreachBatch sink — bands are written BEFORE corpus docs, so a
  *    crash between the two can only leave surplus band rows (benign:
  *    duplicates collapse in the candidate distinct, and bands of a
  *    not-yet-admitted doc die in the confirm semi-join), never a corpus
  *    doc invisible to future screening. Downstream consumers of
  *    `pairsStream` dedup on (doc_new, doc_corpus) if they need
  *    idempotence;
  *  - doc_ids must be globally unique across the corpus and all batches
  *    (the `minHashLshAgainstCorpus` id-space contract). */
class NearDupGateLink(input: String, corpusStream: String,
                      pairsStream: String, minJaccard: Double,
                      n: Int = 3,
                      maxBandSize: Int = Dedup.DefaultHotKeyCap,
                      bandsStreamName: String = "")
    extends Link {

  val inputs: Seq[String] = Seq(input)
  val output: Option[String] = None

  /** Name of the persisted band-projection stream. */
  val bandsStream: String =
    if (bandsStreamName.nonEmpty) bandsStreamName else s"${corpusStream}__bands"

  private val pairsSchema = StructType(Seq(
    StructField("doc_new", LongType), StructField("doc_corpus", LongType),
    StructField("jaccard", DoubleType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val bandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band", LongType)))

  override def checkpointTarget: String = pairsStream

  override def setup(spark: SparkSession, registry: StreamRegistry): Unit = {
    registry.declare(pairsStream, pairsSchema)
    val seedCorpus = registry.exists(corpusStream)
    if (!seedCorpus) registry.declare(corpusStream, docSchema)
    if (!registry.exists(bandsStream)) {
      registry.declare(bandsStream, bandSchema)
      // one-time backfill of a corpus seeded before the gate existed
      if (seedCorpus) {
        val seed = registry.read(corpusStream)
        if (!seed.isEmpty)
          registry.write(Dedup.minHashBandProjection(seed, n), bandsStream)
      }
    }
  }

  override def onBatch(spark: SparkSession, registry: StreamRegistry,
                       batch: DataFrame, batchId: Long): Unit = {
    // localCheckpoint both: the pairs feed TWO actions (pairs append +
    // survivor anti-join), and the survivor write must not re-list the
    // corpus directory it is itself about to append to
    val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
    val corpus = registry.read(corpusStream)
    val corpusBands = registry.read(bandsStream)
    val pairs = Dedup.minHashLshAgainstCorpusBanded(corpus, corpusBands,
      b, minJaccard, n, maxBandSize).localCheckpoint()
    registry.write(pairs, pairsStream)
    val survivors = b.join(
      pairs.select(col("doc_new").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint()
    // bands FIRST (see at-least-once ordering note in the scaladoc)
    registry.write(Dedup.minHashBandProjection(survivors, n), bandsStream)
    registry.write(survivors, corpusStream)
  }
}
