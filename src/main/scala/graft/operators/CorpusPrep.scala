package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-call corpus preparation: the composed pipeline a training-data
  * team runs before tokenization —
  *
  *   normalize (NFC + casefold + scrub + whitespace; `redactPii`
  *      upgrades the scrub to the full email/URL/IP/identifier pass)
  *   -> boilerplate surgery (optional, `cutHotSpans`: spans repeated
  *      across `spanMinDf`+ docs are CUT from every doc before the
  *      gates — q87's removal, so pure-boilerplate docs simply fail
  *      the length gate)
  *   -> quality gate (length band + repetition ceiling)
  *   -> LM-quality gate (optional, `lmModel`: drop docs under a
  *      fluency floor scored by a FOREIGN bigram model — the
  *      CCNet-style gibberish/wrong-language filter)
  *   -> trained-quality gate (optional, `qualityModel`: drop docs
  *      scoring under `minQualityScore` on the learned
  *      reference-vs-crawl classifier — row-local, zero exchanges)
  *   -> boilerplate gate (optional: drop docs carrying more than
  *      `maxHotSpans` word spans that repeat verbatim across
  *      `spanMinDf`+ documents — q62's repeated-span signal)
  *   -> exact dedup (first id per content digest)
  *   -> near-dup dedup (LSH candidates -> exact Jaccard verify ->
  *      connected components -> canonical survivor per cluster;
  *      `keepPreference` picks the survivor, e.g. by source rank)
  *   -> semantic dedup (optional, `embCol`: embedding near-dup
  *      clusters collapse too — sign-LSH buckets by default, IVF
  *      multi-probe when a `codebook`/`nprobe` is supplied, and
  *      code-compressed pair search when a codec rides along:
  *      `pqModel` for M-byte PQ codes, `sqModel` for byte-per-dim
  *      SQ8)
  *   -> benchmark decontamination (optional: drop survivors whose
  *      shingle containment of any benchmark doc reaches the
  *      threshold — q57's broadcast containment search)
  *   -> stratified sampling (optional: deterministic md5-uniform
  *      keep rate per row — downsample over-represented strata as
  *      the final balancing step, after dedup so rates apply to
  *      unique content)
  *
  * Every stage is the library operator documented in SCALE.md; this
  * facade only composes them. Survivors keep their original columns
  * plus the cleaned text. */
object CorpusPrep {

  /** `benchmark`, when set, must expose `benchTextCol`/`benchIdCol`;
    * it is small by definition (eval sets are thousands of docs, not
    * billions) and rides broadcast — see Dedup.decontaminate. The
    * corpus side is compared on `clean_text` so benchmark text is
    * normalized the same way before shingling. */
  final case class Config(
    minChars: Int = 20,
    maxChars: Int = 1000000,
    maxRepetition: Double = 0.9, // 1 - unique/total tokens
    // fine-grained repetition gates over the published corpus-quality
    // signals (`repetition_stats` — Gopher A1 / Dolma's heuristics):
    // signal field name -> max allowed fraction, e.g.
    // Map("dup_line_frac" -> 0.3, "top_2gram_char_frac" -> 0.2).
    // Row-local like the coarse maxRepetition gate (stream-legal);
    // empty (the default) adds no filter, misspelled names refuse
    // against the real field list at plan build
    repetitionGates: Map[String, Double] = Map.empty,
    shingleN: Int = 3,
    minJaccard: Double = 0.8,
    numHashes: Int = 4,
    rowsPerBand: Int = 2,
    maxBucket: Int = HotKeys.DefaultBucketCap,
    benchmark: Option[DataFrame] = None,
    benchTextCol: String = "text",
    benchIdCol: String = "doc_id",
    minContainment: Double = 0.8,
    // scale tier for benchmark suites whose shingle set outgrows the
    // broadcast join: build a driver-held Bloom filter at this fpp
    // and prefilter the corpus explode map-side; results identical at
    // any fpp (false positives die in the exact join) — see
    // Dedup.benchmarkContainment
    benchBloomFpp: Option[Double] = None,
    // ROW-LOCAL n-gram-collision decontamination (GPT-3-style "any
    // benchmark 13-gram collides -> drop"): serialized Bloom bytes
    // from Dedup.buildShingleBloom, checked at `ngramBloomN` (build
    // the filter at the SAME n) with `ngramBloomMaxHits` tolerance.
    // The one decontamination tier that runs in prepStream — no join,
    // no aggregation; union-of-benchmark semantics and the
    // over-drop-only Bloom error are stated on Dedup.bloomNgramGate.
    ngramBloom: Option[Array[Byte]] = None,
    ngramBloomN: Int = 13,
    ngramBloomMaxHits: Int = 0,
    // EMBEDDING-tier decontamination (Dedup.semanticDecontaminate):
    // a frame of benchmark embeddings (`benchEmbCol`), collected to a
    // loudly bounded driver literal; docs whose `embCol` embedding
    // scores cosine >= benchMinCosine against ANY of them drop. Runs
    // LAST among the decontamination tiers (it is the only one that
    // sees paraphrases), and being row-local it is stream-legal too.
    // Note `embCol` also engages run()'s semantic DEDUP stage — in a
    // batch prep the two embedding consumers come together (dropping
    // paraphrase dups and paraphrase leaks are the same trust level);
    // prepStream runs benchEmb alone when no semanticLookup is given.
    benchEmb: Option[DataFrame] = None,
    benchEmbCol: String = "emb",
    benchMinCosine: Double = 0.9,
    // LARGE-bench route for the embedding tier: when true the tier
    // runs Dedup.semanticDecontaminateLarge (bench as a coded probe
    // batch through banded-BQ candidates + exact cosine verify,
    // honoring maxBucket and bqBands) instead of the driver-literal
    // kernel — the route for benches past the literal path's
    // maxBench bound. Batch preps only (the route joins and
    // aggregates, which the stream tier cannot); recall and
    // null-id contracts stated on the operator. Requires benchEmb.
    benchEmbLarge: Boolean = false,
    // IMAGE near-dup tier: an opaque binary image column (PNG/JPEG/
    // GIF/BMP). Decode-at-ingest perceptual dHash + Hamming-banded
    // pair search (Multimodal.imageNearDupPairs — only the 8-byte
    // hash ever shuffles), clusters collapsed under the SAME survivor
    // rule as the text/semantic tiers (keepPreference, else min id =
    // keep-earliest). Exact recall at imageMaxHamming <= 3
    // (pigeonhole over the four 16-bit bands); undecodable payloads
    // never pair (they keep). All three facades: run() clusters
    // in-corpus; runIncremental and prepStream additionally need the
    // PREBUILT standing hash index (their `imageIndex` argument —
    // Dedup.hashBandIndex, built once) so the per-batch decode cost
    // follows the batch, never the standing corpus. In run() the
    // decode re-executes with each plan branch of the pair search
    // (a checkpoint there would truncate the per-stage observed
    // metrics) — for heavy image corpora cache/checkpoint the input
    // docs UPSTREAM, the same advice run() gives for the gates;
    // runIncremental pins its hashed frame internally (no metrics
    // below that stage).
    imageCol: Option[String] = None,
    imageMaxHamming: Int = 3,
    // AUDIO near-dup tier: an opaque binary audio column (WAV/AIFF/
    // AU). Decode-at-ingest 64-bit envelope fingerprint + the SAME
    // Hamming-banded machinery as the image tier
    // (Multimodal.withAudioFingerprint → Dedup hash stack — only the
    // 8-byte fingerprint ever shuffles), same survivor rule, same
    // three-facade routing: run() clusters in-corpus;
    // runIncremental and prepStream need the PREBUILT standing
    // `audioIndex` (Dedup.hashBandIndex over the standing corpus's
    // fingerprints, built once). Undecodable / too-short payloads
    // fingerprint null and keep (the gates own those rows).
    audioCol: Option[String] = None,
    audioMaxHamming: Int = 3,
    // VIDEO-LIKE (animated GIF) near-dup tier: an opaque binary
    // multi-frame column. Decode-at-ingest per-frame dHash + the
    // POSITIONAL banded pair search (Multimodal's sampler path — only
    // 8 bytes per sampled frame ever shuffle): two animations collapse
    // when >= gifMinFrameMatches same-position sampled frames are within
    // gifMaxHamming bits (adaptively every-position-of-equal-length
    // for shorter animations), clusters under the SAME survivor rule
    // as every other tier. run() clusters in-corpus (after the
    // image/audio tiers); runIncremental additionally needs the
    // PREBUILT positional standing index (`gifIndex` —
    // Multimodal.gifHashBandIndex built once, or the PERSISTED form:
    // writeGifHashBandIndex + readGifHashBandIndex, the hash-band
    // family's positional layout — decode-once across runs, takedown
    // lifecycle included) so the per-batch
    // decode follows the batch — note the incremental tier decodes
    // the batch TWICE (in-batch pairs + the standing probe; still
    // O(batch)). prepStream REFUSES this tier: the per-animation hit
    // count is an id-keyed aggregation the row-local stream contract
    // cannot express — dedupe GIF intake in incremental batches.
    // Undecodable payloads emit no frames and keep.
    gifCol: Option[String] = None,
    gifNFrames: Int = 4,
    gifMaxHamming: Int = 3,
    gifMinFrameMatches: Int = 3,
    // bounded alignment tolerance (the positional tiers' maxShift):
    // a frame may match the other side's frames within
    // +-gifMaxShift sampled positions — the
    // trimmed-intro/re-cut case — at (2s+1)x candidate cost; 0 keeps
    // the exact-positional default
    gifMaxShift: Int = 0,
    // the container decode seam: default is the pure-JDK animated-GIF
    // path; pass Multimodal.AviFrameDecoder / Y4mFrameDecoder /
    // Mp4FrameDecoder (or FrameDecoders.firstOf for mixed corpora, or
    // an external compressed-codec implementation) and the whole tier
    // rides it unchanged
    gifDecoder: Multimodal.FrameDecoder = Multimodal.GifFrameDecoder,
    // the SAMPLING-PLAN seam: false = uniform frame positions (the
    // GIF default); true = the container's own sync-sample table
    // (keyframe ORDINAL positions), so re-cuts of the same footage
    // align by I-frame sequence. Payloads without a BMFF keyframe index fall
    // back to uniform sampling, so a mixed corpus still runs in one
    // pass. The same plan MUST be used on both sides of an
    // incremental run: pair a keyframe-sampled gifIndex
    // (videoKeyframeHashBandIndex) with this knob ON — the width
    // guard cannot catch a uniform-vs-keyframe mix (same width,
    // different provenance).
    gifKeyframeSampling: Boolean = false,
    // SEGMENTED audio near-dup tier (audioSegCol — may be the SAME
    // binary column as audioCol): fixed-duration per-segment envelope
    // fingerprints through the SAME positional machinery as the GIF
    // tier (an audio-segment sampler) — catches trimmed /
    // prepended / re-cut clips that the whole-clip audioCol
    // fingerprint cannot see (its 65 windows divide the WHOLE clip,
    // so any length change moves every window). Two clips collapse
    // when >= audioMinSegmentMatches same-position segments are
    // within audioSegMaxHamming bits (adaptively
    // every-position-of-equal-length for short clips);
    // audioSegMaxShift tolerates a bounded number of
    // prepended/trimmed SEGMENTS. run() clusters in-corpus;
    // runIncremental needs the PREBUILT positional `audioSegIndex`
    // (Multimodal.audioSegmentHashBandIndex, or the persisted
    // writeAudioSegmentHashBandIndex + readAudioSegmentHashBandIndex
    // — decode-once across runs, takedown lifecycle included) and
    // decodes the batch twice (in-batch pairs + the standing probe;
    // still O(batch)). prepStream REFUSES this tier (the per-clip
    // hit count is an id-keyed aggregation) — stream via
    // Multimodal.audioNearDupMicroBatch. Zero-segment payloads
    // (short, undecodable, undeclared length) keep.
    audioSegCol: Option[String] = None,
    audioSegmentFrames: Long = 8320L,
    audioMaxSegments: Int = 16,
    audioSegMaxHamming: Int = 3,
    audioMinSegmentMatches: Int = 3,
    audioSegMaxShift: Int = 0,
    // the PCM decode seam (gifDecoder's audio counterpart): default is
    // the JDK codec chain (WAV/AIFF/AU; PCM/µ-law/A-law — the JDK ships
    // no MP3/AAC codec); pass an external implementation (or
    // Multimodal.PcmDecoders.firstOf for mixed corpora) and BOTH
    // audio tiers — whole-clip audioCol and segmented audioSegCol —
    // ride it unchanged
    audioDecoder: Multimodal.PcmDecoder = Multimodal.JdkPcmDecoder,
    redactPii: Boolean = false,
    maxHotSpans: Option[Int] = None,
    spanMinDf: Int = 3,
    // CUT cross-document boilerplate instead of (or before) dropping
    // docs: spans of `shingleN` words in >= `spanMinDf` docs are
    // excised from every doc (Dedup.removeRepeatedSpans) right after
    // normalization, so the gates and dedup see the cleaned prose and
    // an all-boilerplate doc simply fails the minChars gate. `run`
    // only — the incremental path's census would need standing text
    // re-scanned, defeating its cost contract; pre-cut the standing
    // corpus once at build time instead.
    cutHotSpans: Boolean = false,
    // survivor rule for near-dup clusters: the row minimizing this
    // expression wins (ties -> min id); None keeps the minimum id
    keepPreference: Option[org.apache.spark.sql.Column] = None,
    // per-row keep rate in [0,1] (typically a per-stratum expression,
    // e.g. by lang or source); applied LAST via Mixing.stratifiedSample
    sampleRate: Option[org.apache.spark.sql.Column] = None,
    // OPT-IN per-stage survivor counts published as observed metrics
    // (<prefix>_gated/_exact/_neardup/_semantic, plus _lm/_ngram/
    // _decontam/_semdecontam/_sampled when those stages are
    // configured, and <prefix>_semantic_inc from semanticIncremental
    // — "where did my docs go" with ZERO extra passes; GraftSession's
    // listener logs them after the action). Off by default because
    // metric names must be
    // unique within one query execution: two default-named preps
    // unioned into one action would fail analysis. Give each prep
    // composed into a single plan its own prefix.
    metricPrefix: Option[String] = None,
    // SEMANTIC (embedding-space) dedup stage, run after the text
    // near-dup stage in `run` (not `runIncremental` — probe a
    // standing embedding index with Similarity.ivfProbeAll instead):
    // set `embCol` to the docs' array<float/double> embedding column
    // to drop all but one member of each embedding near-dup cluster.
    // Without a codebook, pairs search sign-LSH buckets (`signBits`);
    // with one, each vector lands in its `nprobe` nearest inverted
    // lists (Similarity.nearDupPairsIvf) — nprobe is the recall knob
    // that recovers pairs straddling a Voronoi boundary.
    embCol: Option[String] = None,
    minCosine: Double = 0.95,
    signBits: Int = 8,
    codebook: Option[Seq[(Long, Seq[Double])]] = None,
    nprobe: Int = 1,
    // PQ compression for the semantic tier (needs `codebook` too):
    // with a model, pair search runs Similarity.nearDupPairsIvfPq —
    // the in-list pair state carries M-byte codes instead of D-float
    // vectors and an SDC approximate-cosine prefilter (recall knob
    // `sdcMargin`; >= 2 disables it, making the result EQUAL to the
    // raw IVF path) runs before the exact verify join. Final scores
    // stay exact, so survivors are bit-comparable to the raw tier for
    // every pair the prefilter keeps — the 100 TB semantic-dedup
    // shape, where raw vectors never enter the quadratic expansion.
    pqModel: Option[Similarity.PqModel] = None,
    sdcMargin: Double = 0.1,
    // SQ8 alternative to pqModel (needs `codebook` too, mutually
    // exclusive with pqModel): pair search runs
    // Similarity.nearDupPairsIvfSq — D bytes per row in the pair
    // expansion and a near-exact dequant-cosine prefilter, so
    // sdcMargin can sit at 0.02 where PQ needs 0.1. Pick SQ when
    // prefilter fidelity matters more than the last 8x of index
    // bytes (SCALE.md playbook).
    sqModel: Option[Similarity.SqModel] = None,
    // BQ1 alternative for semanticIncremental ONLY (no codebook —
    // the codes are flat): the standing index carries D-BIT packed
    // sign codes (Similarity.bqAssign) and batch-vs-standing
    // candidates come from a band-keyed EQUI-join
    // (Similarity.bqBandCandidates — the shape that scales where the
    // flat probe's broadcast nested loop cannot), verified by exact
    // cosine before any drop. Recall is the banding s-curve (see
    // bqBandCandidates): `bqBands` trades candidate volume for reach
    // (0 = one-byte bands, the generous default), `bqMaxHamming`
    // optionally prefilters inside the bucket (Int.MaxValue = off —
    // acceptance is then purely the exact verify). The batch pair
    // tier refuses it: nearDupPairsBq exists for that, with its own
    // radius contract.
    bqModel: Option[Similarity.BqModel] = None,
    bqBands: Int = 0,
    bqMaxHamming: Int = Int.MaxValue,
    // LM-QUALITY gate (the CCNet-style setup): score `clean_text`
    // under a FOREIGN bigram model trained once on a trusted
    // reference corpus (TextStats.bigramModel) and drop docs whose
    // smoothed per-bigram average log-probability falls below
    // `minLmLogProb` — the fluency floor
    // that catches gibberish, boilerplate soup, and wrong-language
    // text the length/repetition gates pass. Zero-bigram docs
    // (< 2 tokens) carry no signal and are KEPT (no silent loss on
    // the gate that cannot judge them). Runs right after the
    // row-local gates in `run` and `runIncremental` (score join
    // against the static LM tables) AND in `prepStream`, where the
    // model collects to a broadcast map once at stream build and
    // scoring is row-local (TextStats.withBigramLogProb).
    lmModel: Option[TextStats.BigramLm] = None,
    minLmLogProb: Double = -8.0,
    lmK: Double = 0.5,
    // TRAINED-quality gate, the third rung of the quality ladder
    // (row-local heuristics -> foreign-LM fluency -> learned
    // reference-vs-crawl classifier): score `clean_text` under a
    // `QualityModel` trained once on labeled reference/crawl docs and
    // drop rows scoring below `minQualityScore`. The scorer is a
    // row-local codegen'd expression (map-literal weight lookup +
    // per-row array aggregate — QualityModel.withQualityScore), so
    // the gate adds ZERO exchanges in the batch paths and is
    // stream-legal verbatim in `prepStream`. Runs right after the LM
    // gate in all three facades.
    qualityModel: Option[QualityModel.LinearModel] = None,
    // FIXED gate threshold — the footgun default, kept only for
    // explicit hand-set use: L1-normalized hashed features keep every
    // margin tight around the bias, so a fixed 0.5 typically sits
    // entirely above or below the score cluster and drops nothing or
    // everything (the measured SCALE.md lesson). Prefer
    // `minQualityQuantile` below, which routes
    // QualityModel.calibrateThreshold through the facade.
    minQualityScore: Double = 0.5,
    // CALIBRATED threshold route (the CCNet percentile move — the
    // documented best practice, now facade-routable): when set, the
    // gate threshold is the q-quantile of an observed score
    // distribution instead of `minQualityScore` (mutually exclusive
    // with hand-setting it; needs `qualityModel`). Scores come from
    // `qualityCalibrationFrame` when given — scored on the facade
    // call's textCol VERBATIM, no normalization, so calibrate-on-raw
    // matches a model trained on raw text (pass a pre-cleaned frame
    // to calibrate on cleaned scores); a designated frame also keeps
    // the gate STABLE across incremental batches and is REQUIRED by
    // prepStream (a stream cannot be aggregated at setup). With no
    // frame, the facade self-calibrates on its own gated batch's
    // clean_text scores — the exact distribution the gate filters —
    // at the cost of one extra aggregation pass over the gated batch
    // (pin heavy inputs upstream, run()'s usual caching advice) and,
    // in runIncremental, a threshold that drifts with each batch's
    // mix.
    minQualityQuantile: Option[Double] = None,
    qualityCalibrationFrame: Option[DataFrame] = None,
    // Driver-collect bound for the stream LM gate's broadcast model.
    // The default dropped 20M -> 2M when the old bound was found to
    // OOM a stock driver BELOW the loud failure; a pipeline whose
    // reference model lands between the two can restore the old bound
    // here — TOGETHER with the driver heap to hold it (budget
    // ~200-400 bytes per pair).
    lmMaxPairs: Long = 2000000L,
    // OPT-IN stream-only approximation of the new-NEW near-dup tier:
    // prepStream chains per-band dropDuplicatesWithinWatermark steps
    // (Dedup.streamIntraBandDedup) between the digest tier and the
    // standing-corpus tiers. Greedy arrival-order survivors, band-
    // collision false positives (no exact verify is possible per-row),
    // LSH-candidate recall — the honest trade vs the batch tier's
    // verified cluster rule, documented on the operator. Batch paths
    // refuse it: their exact-verified clustering already covers it.
    intraNearDup: Boolean = false,
    // OPT-IN stateful upgrade of the intra tier: band-keyed
    // transformWithState (the Spark-4 API that lets stateful passes
    // CHAIN — and which REQUIRES the RocksDB state store provider;
    // the operator refuses loudly without it) keeps the shingle-hash
    // sets of docs seen
    // inside the watermark horizon and drops an arrival only when
    // exact Jaccard >= minJaccard verifies against a remembered set
    // (Dedup.streamIntraVerifiedDedup) — closes the greedy tier's
    // band-collision false-positive gap at the price of heavier state
    // (shingle sets instead of band keys; capped per band). Mutually
    // exclusive with intraNearDup; batch paths refuse it too.
    intraNearDupVerified: Boolean = false)

  private def normOf(cfg: Config): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    if (cfg.redactPii) TextNorm.cleanRedacted else TextNorm.clean

  /** The binary-signature near-dup tiers (image dHash, audio
    * envelope fingerprint) share one shape — row-local 64-bit hash →
    * the Dedup hash stack — so the three facades route them through
    * one descriptor instead of three per-modality copies: the binary
    * column, the Hamming radius, the observe/metric label, the
    * working column name, and the hasher. */
  private final case class SignatureTier(binaryCol: String, maxHamming: Int,
      label: String, workCol: String,
      withHash: (DataFrame, String, String) => DataFrame)

  private def signatureTiers(cfg: Config): Seq[SignatureTier] = Seq(
    cfg.imageCol.map(ic => SignatureTier(ic, cfg.imageMaxHamming,
      "image", "_img_ph",
      (df, c, o) => Multimodal.withPerceptualHash(df, c, o)(df.sparkSession))),
    cfg.audioCol.map(ac => SignatureTier(ac, cfg.audioMaxHamming,
      "audio", "_aud_fp",
      (df, c, o) => Multimodal.withAudioFingerprint(df, c, o,
        decoder = cfg.audioDecoder)(df.sparkSession)))
  ).flatten

  /** A positional media tier cfg enables — per-position signatures
    * (GIF/video frames, audio segments) that a single-hash tier cannot
    * compare: its label, binary column, sampler (the frame tier's is
    * chosen here, once: the container's keyframes when
    * `gifKeyframeSampling`, else uniform frame positions), match
    * arguments and pair metric. */
  private final case class PositionalTier(label: String, binaryCol: String,
      sampler: Multimodal.Sampler, maxHamming: Int, minMatches: Int,
      maxShift: Int, metric: String) {
    def pairs(idCol: String, maxBucket: Int)(df: DataFrame): DataFrame =
      Multimodal.positionalPairs(sampler, df, binaryCol, idCol, maxHamming,
        minMatches, maxBucket, metric, maxShift)(df.sparkSession)
  }

  private def positionalTiers(cfg: Config): Seq[PositionalTier] = Seq(
    cfg.gifCol.map(gc => PositionalTier("gif", gc,
      if (cfg.gifKeyframeSampling)
        new Multimodal.Keyframes(cfg.gifNFrames, cfg.gifDecoder)
      else new Multimodal.UniformFrames(cfg.gifNFrames, cfg.gifDecoder),
      cfg.gifMaxHamming, cfg.gifMinFrameMatches, cfg.gifMaxShift,
      "graft_gif_band_cap")),
    cfg.audioSegCol.map(ac => PositionalTier("audioseg", ac,
      new Multimodal.AudioSegments(cfg.audioSegmentFrames,
        cfg.audioMaxSegments, cfg.audioDecoder),
      cfg.audioSegMaxHamming, cfg.audioMinSegmentMatches,
      cfg.audioSegMaxShift, "graft_audio_seg_band_cap"))
  ).flatten

  /** One stage of a facade's chain: the label its metric and
    * trace rows carry, the frame it leaves, and what its trace
    * evidence reads — a dedup tier's clusters, an incremental taint
    * tier's direct standing hits and tainted members, the trained
    * gate's resolved threshold. */
  private final case class Stage(label: String, out: DataFrame,
      clusters: Option[DataFrame] = None, hits: Option[DataFrame] = None,
      tainted: Option[DataFrame] = None, threshold: Option[Double] = None)

  /** How a chain holds its frames: `stage` wraps each stage's output
    * (run: the stage's observed metric; a trace: a pin; a stream:
    * nothing), `aux` the evidence frames a trace reads again, `media`
    * the decoded frame the incremental taint fold reads three times. */
  private final case class Hold(stage: (DataFrame, String) => DataFrame,
      aux: DataFrame => DataFrame = identity,
      media: DataFrame => DataFrame = identity)

  /** A stage whose output is `f` of the previous stage's. */
  private def step(label: String, hold: Hold)(
      f: DataFrame => DataFrame): DataFrame => Stage =
    cur => Stage(label, hold.stage(f(cur), label))

  /** Runs `steps` in order from `start`, each on the previous
    * stage's output. */
  private def chain(start: DataFrame, steps: Seq[DataFrame => Stage]): Seq[Stage] =
    steps.foldLeft(Vector.empty[Stage])((done, s) =>
      done :+ s(done.lastOption.fold(start)(_.out)))

  /** Shared machinery of the three trace facades (`prepTrace`,
    * `prepTraceIncremental`, `prepTraceStream`): the traced-id
    * snapshot, the stage-frame pin registry, the first-drop
    * aggregate, and the evidence rows — ONE definition so the
    * traces' caching and evidence wording cannot drift apart.
    * `input` is the frame the traced chain starts from. */
  private final class TraceKit(ids: DataFrame, idCol: String, cfg: Config,
      input: DataFrame, textCol: String) {
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.mkString(", ")}")
    require(!(Set("stage", "detail", "clean_text", "_digest", "_rank",
        "_trc_pos", "_trc_id", "_trc_cl", "_trc_surv", "_trc_len", "_trc_rv",
        "_trc_qs", "_trc_sid", "_trc_j", "_trc_h", "_trc_updec",
        // evidence-join working names (near-dup re-verify, signature
        // Hamming probe, stream LM gate): a colliding idCol would
        // otherwise die deep in a join with an ambiguous reference
        "_qshs", "_qhs", "_sshs", "_shs", "_band", "_h", "_k", "_hs",
        "_lm_n", "_lm_lp") ++
        (0 until 4).flatMap(k => Set(s"_b$k", s"_cand$k"))).contains(idCol),
      s"idCol '$idCol' collides with the trace's output/working column names")
    private lazy val traced: DataFrame = ids.select(col(ids.columns.head).as(idCol))
      .filter(col(idCol).isNotNull).distinct().localCheckpoint(true)
    private val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += c; c
    }
    val hold: Hold = Hold((df, _) => pin(df), pin, pin)
    def release(): Unit = pinned.foreach { f => f.unpersist(); () }
    def stageRows(idsF: DataFrame, stage: String,
        detail: org.apache.spark.sql.Column): DataFrame =
      idsF.select(col(idCol), lit(stage).as("stage"),
        detail.cast("string").as("detail"))

    /** One row per traced id — (idCol, stage, detail) — EAGER
      * (localCheckpoint), so no caller action can re-execute the
      * prep. The first drops come from ONE pinned aggregate: each
      * frame's traced ids are tagged with the frame's position (-1
      * the traced set, 0 the input, k the k-th stage's output) and
      * each id keeps its max position, the last frame holding it.
      * Stages only drop rows and ids are unique, so an id whose last
      * frame is a stage's input fell at that stage; -1 is absent, the
      * last output is kept. `special`
      * gives the evidence of the stages only its trace knows, as
      * (stage, its input, the ids it dropped); the rest take
      * `common`. */
    def rows(stages: Seq[Stage], inputName: String, gates: String)(
        special: PartialFunction[(Stage, DataFrame, DataFrame), Seq[DataFrame]]
    ): DataFrame = {
      val frames = input +: stages.map(_.out)
      // pinned by an eager localCheckpoint, not a persist: a cached
      // plan prints every stage's plan, and each evidence branch
      // below reads the aggregate
      val last = (traced +: frames.map(f =>
          f.join(broadcast(traced), Seq(idCol), "left_semi").select(idCol)))
        .zipWithIndex
        .map { case (f, k) => f.withColumn("_trc_pos", lit(k - 1)) }
        .reduce(_ unionByName _)
        .groupBy(idCol).agg(max(col("_trc_pos")).as("_trc_pos"))
        .localCheckpoint(true)
      def lastAt(k: Int): DataFrame =
        last.filter(col("_trc_pos") === k).select(idCol)
      val out = stageRows(lastAt(-1), "absent",
          lit(s"id not present in the $inputName frame")) +:
        stages.indices.flatMap { k =>
          val at = (stages(k), frames(k), lastAt(k))
          special.applyOrElse(at, (_: (Stage, DataFrame, DataFrame)) =>
            Seq(common(at._1, at._2, at._3, gates)))
        } :+ keptRows(lastAt(stages.size))
      out.reduce(_ unionByName _).localCheckpoint(true)
    }

    /** The evidence all three traces word alike: the gates (`gates`
      * names the gate set), the trained gate's actual score, the
      * sampler's draw and the fixed-threshold tiers. */
    private def common(st: Stage, prev: DataFrame, dropped: DataFrame,
        gates: String): DataFrame = st.label match {
      // gates: report the normalized length the gates judged — but
      // only when that length is knowable HERE: under cutHotSpans the
      // gates run on the span-cut text (a corpus-wide census), and
      // quoting the uncut length would send the debugging user the
      // exactly wrong conclusion for an all-boilerplate doc
      case "gated" if cfg.cutHotSpans =>
        stageRows(dropped, "gated", lit(s"failed $gates gates (judged on the " +
          "span-cut text; lengths not reported under cutHotSpans)"))
      case "gated" => dropped
        .join(input.select(col(idCol),
          length(normOf(cfg)(col(textCol))).as("_trc_len"),
          repViolationSuffix(cfg, col(textCol)).as("_trc_rv")),
          Seq(idCol), "left")
        .select(col(idCol), lit("gated").as("stage"),
          concat(lit(s"failed $gates gates (clean_len="),
            coalesce(col("_trc_len").cast("string"), lit("null")),
            lit(")"), coalesce(col("_trc_rv"), lit("")))
            .cast("string").as("detail"))
      // trained-quality gate: the evidence is the doc's ACTUAL score
      case "qm" => dropped
        .join(QualityModel.withQualityScore(
            prev.select(col(idCol), col("clean_text")),
            cfg.qualityModel.get, "clean_text", "_trc_qs"), Seq(idCol), "left")
        .select(col(idCol), lit("qm").as("stage"),
          concat(lit("quality score "),
            coalesce(col("_trc_qs").cast("string"), lit("null")),
            lit(s" below minQualityScore=${st.threshold.get}"))
            .cast("string").as("detail"))
      case "sampled" => dropped
        .select(col(idCol), lit("sampled").as("stage"),
          concat(lit("sample draw "),
            round(Mixing.unitHash(col(idCol), "corpusprep"), 6),
            lit(" fell outside the keep rate")).cast("string").as("detail"))
      case label => fixedRows(dropped, label)
    }

    /** Rows of a stage whose evidence is its configured threshold. */
    def fixedRows(dropped: DataFrame, label: String): DataFrame =
      stageRows(dropped, label, lit(label match {
        case "lm" => s"bigram log-prob below minLmLogProb=${cfg.minLmLogProb}"
        case "ngram" => s"over ${cfg.ngramBloomMaxHits} benchmark n-gram Bloom hits"
        case "decontam" =>
          s"benchmark ${cfg.shingleN}-gram containment >= ${cfg.minContainment}"
        case "semdecontam" => s"benchmark embedding cosine >= ${cfg.benchMinCosine}"
        case "exact_standing" => "digest already in the standing corpus"
      }))

    /** (idCol, _trc_surv): the row of `out` sharing each dropped id's
      * content digest in `prev`. */
    def digestTwin(dropped: DataFrame, prev: DataFrame, out: DataFrame): DataFrame =
      dropped
        .join(prev.select(col(idCol), md5(col("clean_text")).as("_digest")),
          Seq(idCol), "left")
        .join(out.select(md5(col("clean_text")).as("_digest"),
          col(idCol).as("_trc_surv")), Seq("_digest"), "left")

    /** (idCol, _trc_surv): each dropped id's cluster member still
      * present in `after` (exactly one per cluster). */
    def clusterSurvivor(dropped: DataFrame, clusters: DataFrame,
        after: DataFrame): DataFrame = {
      val cl = clusters.toDF("_trc_id", "_trc_cl")
      val surv = cl
        .join(after.select(col(idCol).as("_trc_id")), Seq("_trc_id"))
        .select(col("_trc_cl"), col("_trc_id").as("_trc_surv"))
      dropped
        .join(cl.withColumnRenamed("_trc_id", idCol), Seq(idCol), "left")
        .join(surv, Seq("_trc_cl"), "left")
    }

    /** A dedup tier's rows: the cluster survivor each id lost to. */
    def survivorRows(dropped: DataFrame, st: Stage, what: String): DataFrame =
      clusterSurvivor(dropped, st.clusters.get, st.out)
        .select(col(idCol), lit(st.label).as("stage"),
          concat(lit(s"$what cluster survivor: "), col("_trc_surv"))
            .cast("string").as("detail"))

    /** (idCol, _trc_sid, _trc_j): for each dropped row of `rows`, the
      * best-verifying standing doc and its Jaccard. The standing
      * lookups carry only shingle sets, so the handful of dropped rows
      * re-verify against the standing frame WITH ids. */
    def standingNearest(rows: DataFrame, dropped: DataFrame,
        standing: DataFrame): DataFrame = {
      val qSide = rows
        .join(broadcast(dropped), Seq(idCol), "left_semi")
        .select(col(idCol), col("clean_text"))
        .withColumn("_qshs", Dedup.shingles(col("clean_text"), cfg.shingleN))
        .withColumn("_qhs",
          Dedup.minhashSigText(col("clean_text"), cfg.shingleN, cfg.numHashes))
        .select(col(idCol), col("_qshs"), explode(array(Dedup.bandKeyCols(
          i => element_at(col("_qhs"), i + 1),
          cfg.numHashes, cfg.rowsPerBand): _*)).as("_band"))
      val sSide = standing
        .select(col(idCol).as("_trc_sid"), col("clean_text"))
        .withColumn("_sshs", Dedup.shingles(col("clean_text"), cfg.shingleN))
        .withColumn("_shs",
          Dedup.minhashSigText(col("clean_text"), cfg.shingleN, cfg.numHashes))
        .filter(col("_shs").isNotNull)
        .select(col("_trc_sid"), col("_sshs"), explode(array(Dedup.bandKeyCols(
          i => element_at(col("_shs"), i + 1),
          cfg.numHashes, cfg.rowsPerBand): _*)).as("_band"))
      val shared = size(array_intersect(col("_qshs"), col("_sshs")))
      qSide.join(sSide, Seq("_band"))
        .withColumn("_trc_j", shared.cast("double") /
          (size(col("_qshs")) + size(col("_sshs")) - shared))
        .filter(col("_trc_j") >= cfg.minJaccard)
        .groupBy(idCol)
        // min_by over (-j, sid): max jaccard, ties broken to the MIN
        // standing id — fully deterministic evidence (max_by alone
        // is tie-nondeterministic, e.g. duplicate standing texts),
        // which is what lets an oracle replay the survivor id
        .agg(expr("min_by(_trc_sid, struct(-_trc_j, _trc_sid))").as("_trc_sid"),
          round(max(col("_trc_j")), 4).as("_trc_j"))
    }

    /** Kept-row trace frame, with the audioseg tier's honest
      * refusal surfaced: when `cfg.audioSegCol` is set, a kept doc
      * whose payload decodes audio METADATA but not PCM under
      * `cfg.audioDecoder` (a compressed codec with no plug-in — MP3 /
      * Vorbis / Opus under the default JDK decoder) gets detail
      * `undecodable_pcm ...` instead of null: the tier KEPT the doc
      * without ever judging it (the undecodable-keeps rule, same as
      * the image/GIF tiers), and the trace must say so rather than
      * let "kept" read as "fingerprinted and unique". Non-audio junk
      * stays null-detailed — the tier never claimed to judge it.
      * With no audioseg tier this is byte-identical to the
      * pre-round-17 kept rows (trace oracles hash these strings). */
    private def keptRows(kept: DataFrame): DataFrame = cfg.audioSegCol match {
      case None =>
        kept.select(col(idCol), lit("kept").as("stage"),
          lit(null).cast("string").as("detail"))
      case Some(ac) =>
        val flagged = Multimodal.withPcmUndecodable(
          input.select(col(idCol), col(ac)), ac, "_trc_updec",
          cfg.audioDecoder)(input.sparkSession)
        kept
          .join(flagged.select(col(idCol), col("_trc_updec")),
            Seq(idCol), "left")
          .select(col(idCol), lit("kept").as("stage"),
            when(col("_trc_updec"),
              lit("undecodable_pcm: audio metadata decoded but the " +
                "configured PcmDecoder cannot open this codec — kept " +
                "WITHOUT segment fingerprints; plug an external decoder " +
                "into cfg.audioDecoder to judge it"))
              .otherwise(lit(null).cast("string")).as("detail"))
    }
  }

  /** The strictly ROW-LOCAL front: normalization (+ optional PII
    * redaction) and the length/repetition gates — pure map-side, so
    * it runs identically over a batch frame or a stream.
    *
    * The gates read `clean_text` through ONE reference: the lambda of
    * `filter(array(clean_text), ...)` under an `explode`. Written as
    * plain filters, predicate pushdown inlines the `clean_text` alias
    * into every conjunct, and FilterExec has no common-subexpression
    * elimination, so the whole normalize chain (nfc_normalize, lower,
    * three regexp_replace, trim) would run once per reference — six
    * times a row (CorpusPrepSpec pins one). Nothing is inlined into a
    * Generate, so the chain runs once and its output is the
    * `clean_text` every later stage reads; Generate is row-local and
    * stream-legal, like the filters. */
  private[operators] def rowLocalGate(cleaned: DataFrame, cfg: Config,
      rawTextCol: String): DataFrame = {
    def passes(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val toks = split(t, " ")
      length(t).between(cfg.minChars, cfg.maxChars) && size(toks) > 0 &&
        lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks) <=
          cfg.maxRepetition
    }
    val base = cleaned.withColumn("clean_text",
      explode(filter(array(col("clean_text")), passes(_))))
    if (cfg.repetitionGates.isEmpty) base
    else {
      val known = graft.functions.TextOps.RepetitionFields.toSet
      val bad = cfg.repetitionGates.keys.filterNot(known)
      require(bad.isEmpty,
        s"repetitionGates names ${bad.mkString(", ")} are not " +
          s"repetition_stats signals; valid: ${known.toSeq.sorted.mkString(", ")}")
      cfg.repetitionGates.foreach { case (k, v) =>
        // dup_* signals are true ratios, so a threshold past 1 can
        // never fire; top_* can exceed 1 for overlapping repeats
        // (the Dolma/Gopher arithmetic), so higher gates are legal.
        val hi = if (k.startsWith("top_")) Double.MaxValue else 1.0
        require(v >= 0.0 && v <= hi,
          if (hi == 1.0)
            s"repetitionGates($k) must be a fraction in [0, 1], got $v"
          else s"repetitionGates($k) must be >= 0, got $v")
      }
      // judged on the RAW text, not clean_text: the normalize chain
      // squeezes whitespace to single spaces, so line/paragraph
      // structure — exactly what the published filters inspect —
      // only exists pre-normalization. ONE struct evaluation per row
      // feeds every gate; still pure map-side (stream-legal, no
      // shuffle, inside codegen). NULL raw text fails every gate
      // (a doc with no text carries no evidence it is clean).
      val gated = base.withColumn("_rep",
        graft.functions.TextExpressions.repetition_stats(col(rawTextCol)))
      cfg.repetitionGates.toSeq.sortBy(_._1)
        .foldLeft(gated) { case (df, (field, mx)) =>
          df.filter(col("_rep")(field) <= mx)
        }
        .drop("_rep")
    }
  }

  /** Violated fine repetition gates for a dropped doc, as a trace
    * detail suffix ("; violated dup_line_frac>0.2,...") — empty when
    * the knob is off or when the raw text is NULL. Computed from the
    * raw text alone: the suffix lists EVERY exceeded repetition
    * threshold, regardless of which gate actually dropped the doc —
    * a doc that fell to minChars/maxChars/maxRepetition and also
    * exceeds a repetition threshold still carries the suffix (the
    * trace reports all the evidence against the doc, not a single
    * culprit). Judged on the RAW text, exactly like the gate itself.
    * With the knob off this is `lit("")`, keeping every existing
    * trace detail byte-identical (the trace oracles hash the
    * replayable slice of these strings). */
  private def repViolationSuffix(cfg: Config,
      rawText: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    if (cfg.repetitionGates.isEmpty) lit("")
    else {
      val st = graft.functions.TextExpressions.repetition_stats(rawText)
      val viol = array(cfg.repetitionGates.toSeq.sortBy(_._1).map {
        case (f, mx) => when(st.getField(f) > mx, lit(s"$f>$mx"))
          .otherwise(lit(null).cast("string"))
      }: _*)
      val names = array_compact(viol)
      when(size(names) > 0,
        concat(lit("; violated "), array_join(names, ","))).otherwise(lit(""))
    }

  /** Shared front half: normalize (+ optional PII redaction), quality
    * gates, optional boilerplate gate — everything before dedup. */
  private def normalizeAndGate(docs: DataFrame, textCol: String,
      idCol: String, cfg: Config,
      spanCorpus: Option[DataFrame] = None): DataFrame = {
    val cleaned0 = docs.withColumn("clean_text", normOf(cfg)(col(textCol)))
    // surgical boilerplate removal BEFORE the gates: spans cut, text
    // rebuilt, so the length/repetition gates judge the actual prose
    val cleaned =
      if (!cfg.cutHotSpans) cleaned0
      else Dedup.removeRepeatedSpans(
          cleaned0.withColumnRenamed("clean_text", "_pre_cut"),
          "_pre_cut", idCol, cfg.shingleN, cfg.spanMinDf, outCol = "clean_text")
        .drop("_pre_cut", "n_removed")
    val gated = rowLocalGate(cleaned, cfg, textCol)
    // boilerplate gate: anti-join against the repeated-span census —
    // docs over the hot-span budget drop before any dedup work.
    // `spanCorpus` (the incremental path) widens the census to the
    // standing corpus, so span document-frequencies reflect the WHOLE
    // corpus — a batch-only census would miss boilerplate whose
    // within-batch df sits below spanMinDf.
    cfg.maxHotSpans.fold(gated) { budget =>
      val censusInput = spanCorpus.fold(gated)(st =>
        gated.select(col(idCol), col("clean_text"))
          .unionByName(st.select(col(idCol), col("clean_text"))))
      gated.join(
        Dedup.repeatedSpans(censusInput, "clean_text", idCol, cfg.shingleN, cfg.spanMinDf)
          .filter(col("n_hot_spans") > budget)
          .select(idCol),
        Seq(idCol), "left_anti")
    }
  }

  /** LM-quality gate over gated docs (see Config.lmModel): keep docs
    * scoring `minLmLogProb`+ under the foreign bigram model, plus
    * zero-bigram docs (null logprob — nothing to judge). One per-doc
    * score join; the LM tables keep their documented scoring shape
    * (pair-key shuffle join, broadcast lefts, literal V). */
  private def lmGate(docs: DataFrame, idCol: String, cfg: Config): DataFrame =
    cfg.lmModel.fold(docs) { lm =>
      docs.join(
          TextStats.scoreBigramLogProb(docs, "clean_text", idCol, lm, cfg.lmK)
            .select(col(idCol), col("logprob")),
          Seq(idCol), "left_outer")
        .filter(col("logprob").isNull || col("logprob") >= cfg.minLmLogProb)
        .drop("logprob")
    }

  /** Trained-quality gate (see Config.qualityModel): keep docs
    * scoring at or above the effective threshold under the learned
    * classifier. The scorer is ROW-LOCAL
    * (QualityModel.withQualityScore — map-literal weight lookup,
    * per-row array aggregate: no join, no aggregation, no state), so
    * this one definition serves run(), runIncremental AND prepStream
    * unchanged; the threshold is a driver scalar resolved by
    * `qmThresholdOf` before the plan is built. */
  private def qmGateAt(docs: DataFrame, m: QualityModel.LinearModel,
      threshold: Double): DataFrame =
    QualityModel.withQualityScore(docs, m, "clean_text", "_qm_score")
      .filter(col("_qm_score") >= threshold)
      .drop("_qm_score")

  /** Resolve the trained-quality gate's EFFECTIVE threshold — the
    * fixed `minQualityScore`, or (quantile route — see Config) one
    * `calibrateThreshold` action over the designated calibration
    * frame / the gated batch itself. Driver-side scalar either way,
    * so the gate stays a row-local stream-legal filter. */
  private def qmThresholdOf(gated: DataFrame, cfg: Config,
      textCol: String): Double =
    cfg.minQualityQuantile match {
      case None => cfg.minQualityScore
      case Some(q) =>
        require(cfg.minQualityScore == 0.5,
          "minQualityQuantile and a hand-set minQualityScore are mutually " +
            "exclusive — the calibrated threshold REPLACES the fixed one; " +
            "leave minQualityScore at its default")
        val m = cfg.qualityModel.get
        cfg.qualityCalibrationFrame match {
          case Some(ref) =>
            QualityModel.calibrateThreshold(
              QualityModel.withQualityScore(ref, m, textCol, "_qm_cal_score"),
              "_qm_cal_score", q)
          case None =>
            QualityModel.calibrateThreshold(
              QualityModel.withQualityScore(gated, m, "clean_text",
                "_qm_cal_score"),
              "_qm_cal_score", q)
        }
    }

  /** The trained-quality gate as a chain stage (None without a
    * model). Validates the quantile config EVEN when no model is set
    * (a quantile with no model would otherwise silently gate
    * nothing), then resolves the threshold against the stage's input;
    * the stage carries it so a trace's evidence names the value the
    * gate used. */
  private def qmStep(textCol: String, cfg: Config,
      hold: Hold): Option[DataFrame => Stage] = {
    require(cfg.minQualityQuantile.isEmpty || cfg.qualityModel.isDefined,
      "minQualityQuantile calibrates the qualityModel gate — set " +
        "cfg.qualityModel too (a quantile alone would silently gate nothing)")
    require(cfg.qualityCalibrationFrame.isEmpty ||
        cfg.minQualityQuantile.isDefined,
      "qualityCalibrationFrame without minQualityQuantile would be " +
        "silently ignored and the gate would run at the fixed " +
        "minQualityScore — set the quantile (or drop the frame)")
    cfg.qualityModel.map(m => cur => {
      val thr = qmThresholdOf(cur, cfg, textCol)
      Stage("qm", hold.stage(qmGateAt(cur, m, thr), "qm"), threshold = Some(thr))
    })
  }

  /** One definition of the per-stage survivor metric — every stage
    * of run() and runIncremental's back half publishes through it,
    * so the naming scheme cannot drift between them. */
  private def observed(cfg: Config)(df: DataFrame, stage: String): DataFrame =
    cfg.metricPrefix.fold(df)(p =>
      df.observe(s"${p}_$stage", count(lit(1)).as("rows")))

  /** The gate stages both batch chains open with: normalize + the
    * row-local and boilerplate gates, then the optional LM and
    * trained-quality gates. */
  private def gateSteps(textCol: String, idCol: String, cfg: Config,
      hold: Hold, spanCorpus: Option[DataFrame]): Seq[DataFrame => Stage] =
    Seq(step("gated", hold)(normalizeAndGate(_, textCol, idCol, cfg, spanCorpus))) ++
      cfg.lmModel.map(_ => step("lm", hold)(lmGate(_, idCol, cfg))) ++
      qmStep(textCol, cfg, hold)

  /** Shared back half: benchmark decontamination + stratified
    * sampling over the dedup survivors, as (label, stage) pairs in
    * chain order. */
  private def backTiers(idCol: String,
      cfg: Config): Seq[(String, DataFrame => DataFrame)] = {
    // validated OUTSIDE the benchEmb tier: benchEmbLarge without
    // benchEmb would otherwise silently skip the whole stage — the
    // same loud-misconfiguration rule as the codec/imageIndex checks
    require(!cfg.benchEmbLarge || cfg.benchEmb.isDefined,
      "benchEmbLarge selects the large-bench route OF the benchEmb tier — " +
        "set cfg.benchEmb (the benchmark embeddings frame), or drop the flag")
    Seq(
      // the row-local n-gram gate runs first — it is the cheap tier,
      // and anything it drops the containment join never pays for
      cfg.ngramBloom.map(bytes => "ngram" -> ((cur: DataFrame) =>
        Dedup.bloomNgramGate(cur, "clean_text", bytes,
          cfg.ngramBloomN, cfg.ngramBloomMaxHits))),
      // normalize the benchmark text identically to the corpus before
      // shingling, or containment would miss on case/whitespace alone
      cfg.benchmark.map(bench => "decontam" -> ((cur: DataFrame) =>
        Dedup.decontaminate(cur, "clean_text", idCol,
          bench.withColumn("_bclean", normOf(cfg)(col(cfg.benchTextCol))),
          "_bclean", cfg.benchIdCol, cfg.shingleN, cfg.minContainment,
          cfg.benchBloomFpp))),
      // the embedding tier last: paraphrased leaks the shingle tiers
      // missed (requires cfg.embCol — the docs' embedding column)
      cfg.benchEmb.map { bench =>
        require(cfg.embCol.isDefined,
          "benchEmb (semantic decontamination) needs cfg.embCol — the docs' " +
            "embedding column the benchmark embeddings score against")
        "semdecontam" -> ((cur: DataFrame) =>
          if (cfg.benchEmbLarge)
            Dedup.semanticDecontaminateLarge(cur, cfg.embCol.get, idCol,
              bench, cfg.benchEmbCol, cfg.benchMinCosine,
              bands = cfg.bqBands, maxBucket = cfg.maxBucket)
          else Dedup.semanticDecontaminate(cur, cfg.embCol.get, bench,
            cfg.benchEmbCol, cfg.benchMinCosine))
      },
      // distinct salt: the prep sample must not correlate with any
      // downstream unsalted mixing draw over the same ids
      cfg.sampleRate.map(r => "sampled" -> ((cur: DataFrame) =>
        Mixing.stratifiedSample(cur, idCol, r, salt = "corpusprep")))
    ).flatten
  }

  private def tierSteps(tiers: Seq[(String, DataFrame => DataFrame)],
      hold: Hold): Seq[DataFrame => Stage] =
    tiers.map { case (label, f) => step(label, hold)(f) }

  /** Near-dup survivors: each cluster collapses to the
    * keepPreference winner, else its minimum id. */
  private def survivors(df: DataFrame, idCol: String, clusters: DataFrame,
      cfg: Config): DataFrame =
    cfg.keepPreference.fold(Dedup.dropNearDuplicates(df, idCol, clusters))(
      Dedup.dropNearDuplicatesBy(df, idCol, clusters, _))

  /** The semantic tier's pair search under cfg's codec: sign-LSH
    * buckets, IVF lists, or IVF with PQ / SQ8 codes. */
  private def semanticPairs(df: DataFrame, e: String, idCol: String,
      cfg: Config): DataFrame = {
    require(cfg.pqModel.isEmpty || cfg.sqModel.isEmpty,
      "pqModel and sqModel are alternative codecs for the semantic tier — set one")
    require((cfg.pqModel.isEmpty && cfg.sqModel.isEmpty) || cfg.codebook.nonEmpty,
      "a codec (pqModel/sqModel) compresses the IVF pair search and needs " +
        "`codebook` for the inverted lists — supply both, or neither for " +
        "sign-LSH buckets")
    (cfg.codebook, cfg.pqModel, cfg.sqModel) match {
      case (Some(cbk), Some(pqm), None) => Similarity.nearDupPairsIvfPq(df, e,
        idCol, cbk, pqm, cfg.minCosine, cfg.nprobe, cfg.maxBucket, cfg.sdcMargin)
      case (Some(cbk), None, Some(sqm)) => Similarity.nearDupPairsIvfSq(df, e,
        idCol, cbk, sqm, cfg.minCosine, cfg.nprobe, cfg.maxBucket, cfg.sdcMargin)
      case (Some(cbk), None, None) => Similarity.nearDupPairsIvf(df, e, idCol,
        cbk, cfg.minCosine, cfg.nprobe, cfg.maxBucket)
      case _ => Similarity.nearDupPairs(df, e, idCol,
        cfg.signBits, cfg.minCosine, cfg.maxBucket)
    }
  }

  /** Exact dedup: the min id of each content digest survives, with
    * its `_digest` column. */
  private def minIdDigest(df: DataFrame, idCol: String): DataFrame = df
    .withColumn("_digest", md5(col("clean_text")))
    .withColumn("_rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy("_digest").orderBy(idCol)))
    .filter(col("_rank") === 1)
    .drop("_rank")

  /** run()'s stage list — `run` executes it with each stage wrapped
    * in its observed metric, `prepTrace` replays it with each stage
    * pinned, so the two cannot drift apart. */
  private def batchStages(docs: DataFrame, textCol: String, idCol: String,
      cfg: Config, hold: Hold): Seq[Stage] = {
    require(!cfg.intraNearDup && !cfg.intraNearDupVerified,
      "intraNearDup/intraNearDupVerified are the stream-only tiers — run()'s " +
        "near-dup stage already clusters with exact verification")
    // validated here, not inside the embCol tier: a Config with bqModel
    // set but embCol unset would otherwise be silently ignored
    require(cfg.bqModel.isEmpty,
      "bqModel is the semanticIncremental lookup codec — the batch semantic " +
        "tier's pair search has its own BQ operator (Similarity.nearDupPairsBq) " +
        "with an explicit Hamming-radius contract; compose it directly")
    // semantic-stage config without embCol would otherwise be silently
    // ignored (the whole stage lives inside the embCol tier) — the
    // same loud-misconfiguration rule as the bqModel check above
    require(cfg.embCol.isDefined ||
        (cfg.pqModel.isEmpty && cfg.sqModel.isEmpty && cfg.codebook.isEmpty),
      "pqModel/sqModel/codebook configure the semantic dedup stage, which " +
        "needs cfg.embCol — set it, or drop the codec/codebook config")
    implicit val sp: org.apache.spark.sql.SparkSession = docs.sparkSession
    // exact dedup: min id per content digest survives.
    // Its output is read three times, so the normalize/gate/LM/digest
    // pipeline executes three times per run (q131: 3, measured):
    // the candidate pin inside minhashJaccardPairs, the verify side
    // of the pairs (executed once: duplicateClusters pins the pairs),
    // and the output plan (survivor anti-join, then the later
    // stages). Each later tier with its own pair search (semantic,
    // image, audio) reads it once more. Each execution normalizes a
    // row once (rowLocalGate's Generate).
    // A localCheckpoint here would stop the re-execution — but it
    // TRUNCATES lineage, and the per-stage observed metrics
    // (CollectMetrics below the truncation) never reach the listener,
    // breaking the metricPrefix contract (verified: the spec's
    // metrics vanish). Callers who want the gates paid once
    // cache/checkpoint UPSTREAM (docs.cache() before run()), which
    // keeps the observe nodes in every consumer's plan.
    val exact = step("exact", hold)(minIdDigest(_, idCol).drop("_digest"))
    // every dedup tier collapses its pair search's clusters the same
    // way, under the one survivor rule
    def collapse(label: String)(pairs: DataFrame => DataFrame): DataFrame => Stage =
      cur => {
        val clusters = hold.aux(Dedup.duplicateClusters(pairs(cur)))
        Stage(label, hold.stage(survivors(cur, idCol, clusters, cfg), label),
          clusters = Some(clusters))
      }
    val dedup = Seq(
      // near-dup dedup over the cleaned text
      collapse("neardup")(Dedup.minhashJaccardPairs(_, "clean_text", idCol,
        cfg.shingleN, cfg.minJaccard, cfg.numHashes, cfg.rowsPerBand,
        cfg.maxBucket))) ++
      // semantic tier: embedding near-dups — paraphrases/translations
      // the shingle tiers can't see
      cfg.embCol.map(e => collapse("semantic")(semanticPairs(_, e, idCol, cfg))) ++
      // signature tiers (image dHash, audio fingerprint): re-encodes
      // and mild edits of the same pixels/samples, which no text tier
      // can see (the media columns are opaque binary to everything above)
      signatureTiers(cfg).map(t => collapse(t.label)(cur =>
        Dedup.hashNearDupPairs(t.withHash(cur, t.binaryCol, t.workCol),
          t.workCol, idCol, t.maxHamming, cfg.maxBucket,
          metricName = s"graft_${t.label}_band_cap"))) ++
      // positional tiers: animations/videos by frame (the single-hash
      // image tier would hash only a cover frame), audio by segment
      // (trimmed/re-cut clips the whole-clip audioCol tier cannot see)
      positionalTiers(cfg).map(t =>
        collapse(t.label)(t.pairs(idCol, cfg.maxBucket)))
    chain(docs, gateSteps(textCol, idCol, cfg, hold, None) ++ (exact +: dedup) ++
      tierSteps(backTiers(idCol, cfg), hold))
  }

  /** Returns the surviving rows of `docs` with `clean_text` appended.
    * `idCol` must be unique per row; `textCol` is the raw text.
    *
    * NOT widened at the entry (r17): an interleaved A/B showed a
    * facade-entry repartition costs MORE than it wins for the thin
    * text chains (q131 1.32x, q140 1.28x slower — 32-task per-stage
    * overhead: task deserialization of the large generated plans +
    * broadcast fetch contention), while the branches that do win
    * (expensive media decode) get their parallelism from the caller
    * widening BEFORE the pinned encode (q138 0.83x, q142 0.59x) — see
    * Parallelism.widen. */
  def run(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      cfg: Config = Config()): DataFrame =
    batchStages(docs, textCol, idCol, cfg, Hold(observed(cfg))).last.out

  /** Row tracing for the batch prep facade — the data-curation twin
    * of `pipeline.VulTracer`'s `-debug v=CVE-...`: for each traced
    * id, "why is this doc not in run()'s output", answered with the
    * FIRST stage that dropped it plus the evidence a curation debug
    * needs — the exact-digest twin or dedup-cluster survivor it lost
    * to, the sampler's actual draw, the normalized length the gates
    * judged. The per-stage observed metrics answer "HOW MANY dropped
    * where" with zero extra passes; this answers "WHERE did doc X
    * go" for a handful of ids.
    *
    * Replays run()'s own stage list (`batchStages`) under the SAME
    * Config with each stage pinned instead of observed, so the two
    * cannot drift apart (CorpusPrepSpec pins trace's kept set ==
    * run()'s survivor set). Stage frames are released before
    * returning; the result is EAGER (localCheckpoint) so no caller
    * action can re-execute the prep. Debug-sized by contract: `ids`
    * is a single-column frame of the ids to trace — pass a handful,
    * not a corpus slice.
    *
    * Output: one row per traced id — (<idCol>, stage, detail);
    * stage ∈ absent | gated | lm | qm | exact | neardup | semantic |
    * image | audio | gif | audioseg | ngram | decontam | semdecontam |
    * sampled | kept (only cfg-active stages can appear). */
  def prepTrace(docs: DataFrame, ids: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", cfg: Config = Config()): DataFrame = {
    val kit = new TraceKit(ids, idCol, cfg, docs, textCol)
    try {
      kit.rows(batchStages(docs, textCol, idCol, cfg, kit.hold), "input",
          "normalize/quality/boilerplate") {
        // exact: name the digest twin that was kept
        case (st, prev, dropped) if st.label == "exact" =>
          Seq(kit.digestTwin(dropped, prev, st.out)
            .select(col(idCol), lit("exact").as("stage"),
              concat(lit("exact duplicate of kept doc "), col("_trc_surv"))
                .cast("string").as("detail")))
        case (st, _, dropped) if st.clusters.isDefined =>
          Seq(kit.survivorRows(dropped, st,
            if (st.label == "neardup") "near-dup" else st.label))
      }
    } finally { kit.release() }
  }

  /** prepStream's stage list — `prepStreamWithCaches` runs it on the
    * live stream, `prepTraceStream` replays it on a batch frame with
    * each stage pinned, so the two cannot drift apart. Each facade
    * passes its two differences: `exact`, the digest dedup (the live
    * stream's watermarked first arrival plus the opt-in intra tiers,
    * or the trace's min-id stand-in), which leaves `_digest` for the
    * standing digest tier; and `lookup`, how a standing lookup is held
    * (the stream caches each one — a stream-static join re-executes
    * its static side every micro-batch — the trace reads it as is).
    * Every stage is row-local or a stream-static join: the LM gate
    * collects its model to a broadcast map once at build
    * (TextStats.collectLocal fails loudly past its bound) with the
    * batch gate's keep rule (null logprob passes); the row-local
    * decontamination tiers run before the digest dedup, so a
    * contaminated row never seeds the digest state; the standing
    * tiers run text first, then semantic, then signature (a textual
    * dup is the cheapest drop); the sampler stays last with run()'s
    * salt, so a stream survivor set equals run()'s on the same rows. */
  private def streamStages(docs: DataFrame, textCol: String, idCol: String,
      cfg: Config, hold: Hold, exact: DataFrame => DataFrame,
      lookup: DataFrame => DataFrame, standing: Option[DataFrame],
      standingIndex: Option[DataFrame], semanticLookup: Option[DataFrame],
      tierIdx: Map[String, Option[DataFrame]]): Seq[Stage] = {
    val front = Seq(step("gated", hold)(d => rowLocalGate(
        d.withColumn("clean_text", normOf(cfg)(col(textCol))), cfg, textCol))) ++
      cfg.lmModel.map(lm => step("lm", hold)(_
        .transform(TextStats.withBigramLogProb(_, "clean_text",
          TextStats.collectLocal(lm, cfg.lmMaxPairs), cfg.lmK, "_lm_n", "_lm_lp"))
        .filter(col("_lm_lp").isNull || col("_lm_lp") >= cfg.minLmLogProb)
        .drop("_lm_n", "_lm_lp"))) ++
      qmStep(textCol, cfg, hold)
    val (sample, decon) = backTiers(idCol, cfg).partition(_._1 == "sampled")
    val dedup = step("exact", hold)(cur =>
      if (standing.isDefined) exact(cur) else exact(cur).drop("_digest"))
    val standingSteps = standing.toSeq.flatMap { st =>
      val oldDig = lookup(standingIndex
        .map(_.select(col("_digest")).distinct())
        .getOrElse(st.select(md5(col("clean_text")).as("_digest")).distinct()))
      val near = lookup(Dedup.bandVerifyLookup(st, "clean_text", idCol,
        cfg.shingleN, cfg.numHashes, cfg.rowsPerBand, cfg.maxBucket,
        standingIndex))
      Seq(step("exact_standing", hold)(
          _.join(oldDig, Seq("_digest"), "left_anti").drop("_digest")),
        step("neardup", hold)(Dedup.streamNearDupFilter(_, "clean_text", near,
          cfg.shingleN, cfg.minJaccard, cfg.numHashes, cfg.rowsPerBand)))
    }
    // codec routing mirrors semanticIncremental: SQ rides the IVF list
    // lookup, BQ the band-keyed lookup
    val semantic = semanticLookup.map(lookup).map(lk => step("semantic", hold)(cur =>
      cfg.bqModel.fold(
        Similarity.streamSemanticFilter(cur, cfg.embCol.get, lk,
          cfg.codebook.get, cfg.sqModel.get, cfg.minCosine, cfg.nprobe))(bqm =>
        Similarity.streamSemanticFilterBq(cur, cfg.embCol.get, lk,
          bqm, cfg.minCosine, cfg.bqBands, cfg.bqMaxHamming))))
    val signature = signatureTiers(cfg).map { t =>
      val idx = lookup(tierIdx(t.label).get)
      step(t.label, hold)(cur => Dedup.hashNearDupFilterAgainst(
        t.withHash(cur, t.binaryCol, t.workCol), t.workCol, idx, t.maxHamming)
        .drop(t.workCol))
    }
    chain(docs, front ++ tierSteps(decon, hold) ++ (dedup +: standingSteps) ++
      semantic ++ signature ++ tierSteps(sample, hold))
  }

  /** The stream contract, one definition for `prepStream` and
    * `prepTraceStream` (a trace of a stream that can never exist would
    * explain nothing): only row-local stages and standing-corpus
    * probes; every lookup and index argument paired with the config
    * that reads it. */
  private def requireStreamable(cfg: Config, standing: Option[DataFrame],
      standingIndex: Option[DataFrame], semanticLookup: Option[DataFrame],
      tierIdx: Map[String, Option[DataFrame]]): Unit = {
    require(cfg.maxHotSpans.isEmpty && !cfg.cutHotSpans && cfg.benchmark.isEmpty,
      "prepStream supports only the row-local stages (normalize + gates + LM " +
        "gate + exact dedup + the standing-corpus probes); corpus-statistic " +
        "stages need a batch pass — run them via runIncremental over the " +
        "accumulated intake (for decontamination in a stream, use the " +
        "row-local n-gram tier: Config.ngramBloom)")
    require(!cfg.benchEmbLarge,
      "benchEmbLarge is the batch-only large-bench route (it joins and " +
        "aggregates); a stream tier needs the row-local literal path — " +
        "pre-shrink the bench under maxBench, or decontaminate in batch")
    Seq("gif" -> cfg.gifCol, "audioSeg" -> cfg.audioSegCol).foreach { case (t, c) =>
      require(c.isEmpty,
        s"the ${t}Col tier is refused on streams: its drop decision counts " +
          "matched positions per item, an id-keyed aggregation the row-local " +
          "append-mode contract cannot express — dedupe that intake in " +
          s"incremental batches (runIncremental + ${t}Index, traced by " +
          "prepTraceIncremental), or as a foreachBatch stream via " +
          "Multimodal.gifNearDupMicroBatch / audioNearDupMicroBatch")
    }
    require(cfg.embCol.isEmpty || semanticLookup.isDefined ||
        cfg.benchEmb.isDefined,
      "embCol in a stream needs a standing semantic lookup (build one with " +
        "Similarity.sqSemanticLookup over the standing SQ index, or " +
        "Similarity.bqSemanticLookup over standing BQ codes, and pass it " +
        "as semanticLookup) — the batch semantic tier's pair clustering " +
        "needs a corpus pass; run it via runIncremental. (embCol serving " +
        "ONLY benchEmb decontamination is also valid.)")
    require(semanticLookup.isEmpty || (cfg.embCol.isDefined &&
        ((cfg.codebook.isDefined && cfg.sqModel.isDefined && cfg.bqModel.isEmpty) ||
         (cfg.bqModel.isDefined && cfg.sqModel.isEmpty && cfg.codebook.isEmpty))),
      "semanticLookup needs cfg.embCol (the stream's embedding column) plus " +
        "exactly ONE codec route: cfg.codebook + cfg.sqModel (IVF list lookup " +
        "from sqSemanticLookup) OR cfg.bqModel alone (band lookup from " +
        "bqSemanticLookup)")
    require(standingIndex.isEmpty || standing.isDefined,
      "standingIndex carries bands, not text — the exact-Jaccard verify needs " +
        "the standing frame too")
    require(cfg.minQualityQuantile.isEmpty || cfg.qualityCalibrationFrame.isDefined,
      "minQualityQuantile on a stream needs qualityCalibrationFrame — a " +
        "stream cannot be aggregated at setup; calibrate on a designated " +
        "reference frame")
    requireIndexes("in a stream", cfg, tierIdx)
  }

  /** Row tracing for the STREAM intake path — the production twin of
    * `prepTrace`: "why did the stream drop doc X against the standing
    * corpus", answered with the FIRST stage that dropped it and the
    * standing-side evidence each tier can honestly name. Replays
    * prepStream's own stage list (`streamStages`) on a batch frame
    * with each stage pinned (every stream stage is row-local or a
    * stream-static join, so the batch replay is the same plan minus
    * the watermark), against the same standing lookups the stream was
    * built with — pass the SAME `standing`/`standingIndex`/
    * `semanticLookup`/`imageIndex`/`audioIndex` frames. A config
    * prepStream refuses is refused here too.
    *
    * Two honesty notes, both inherent to live intake:
    *  - the within-batch digest tier keeps the FIRST ARRIVAL in the
    *    live stream (`dropDuplicatesWithinWatermark`); the trace
    *    reports the min-id twin as the survivor stand-in and says so
    *    in the evidence — the surviving CONTENT is identical either
    *    way, survivor identity is arrival-dependent by design.
    *    Consequently the trace's kept SET equals the live stream's
    *    exactly for batches WITHOUT in-batch digest twins (the spec's
    *    parity pins), and at content level otherwise: when twins
    *    arrive out of min-id order, the stream may keep a different
    *    MEMBER of the same digest group than the trace names.
    *  - the intra near-dup tiers (`intraNearDup` /
    *    `intraNearDupVerified`) are REFUSED: greedy arrival-order /
    *    stateful drops cannot be replayed deterministically from a
    *    batch frame, and a trace that guessed would mislead.
    *
    * Evidence: the standing near-dup tier re-verifies the dropped
    * rows against the standing frame WITH ids (one band-candidate
    * join per trace call — the lookup itself carries only shingle
    * sets) and names the best-verifying standing doc + its Jaccard;
    * the semantic and signature tiers report the decision variables
    * the live filter actually saw (probed-list ADC verify / band
    * Hamming), stating that their lookups carry codes and hashes,
    * not ids. Debug-sized by contract (`ids` is a handful); the one
    * standing-sized cost is the evidence join, the same price
    * `bandVerifyLookup` pays at stream build. Output: one row per
    * traced id — (<idCol>, stage, detail); stage ∈ absent | gated |
    * lm | qm | ngram | semdecontam | exact | exact_standing |
    * neardup | semantic | image | audio | sampled | kept. */
  def prepTraceStream(docs: DataFrame, ids: DataFrame, textCol: String,
      idCol: String = "doc_id", cfg: Config = Config(),
      standing: Option[DataFrame] = None,
      standingIndex: Option[DataFrame] = None,
      semanticLookup: Option[DataFrame] = None,
      imageIndex: Option[DataFrame] = None,
      audioIndex: Option[DataFrame] = None): DataFrame = {
    val tierIdx = Map("image" -> imageIndex, "audio" -> audioIndex)
    requireStreamable(cfg, standing, standingIndex, semanticLookup, tierIdx)
    require(!cfg.intraNearDup && !cfg.intraNearDupVerified,
      "the intra near-dup tiers keep greedy arrival-order / stateful " +
        "survivors — their drops cannot be replayed deterministically from " +
        "a batch frame, so tracing them would guess; disable them for the " +
        "trace (the standing tiers trace fine)")
    val kit = new TraceKit(ids, idCol, cfg, docs, textCol)
    try {
      // within-batch digest twins: min id stands in for the live
      // stream's first arrival
      val stages = streamStages(docs, textCol, idCol, cfg, kit.hold,
        minIdDigest(_, idCol), identity, standing, standingIndex,
        semanticLookup, tierIdx)

      kit.rows(stages, "input", "normalize/quality") {
        // within-batch digest twin: live intake keeps the FIRST ARRIVAL;
        // the min-id twin reported here is the deterministic stand-in
        case (st, prev, dropped) if st.label == "exact" =>
          Seq(kit.digestTwin(dropped, prev, st.out)
            .select(col(idCol), lit("exact").as("stage"),
              concat(lit("duplicate digest within the batch of doc "),
                col("_trc_surv"),
                lit(" (live intake keeps the first ARRIVAL; min-id shown)"))
                .cast("string").as("detail")))
        // standing near-dup: name the best-verifying standing doc
        case (st, prev, dropped) if st.label == "neardup" =>
          Seq(dropped
            .join(kit.standingNearest(prev, dropped, standing.get), Seq(idCol), "left")
            .select(col(idCol), lit("neardup").as("stage"),
              concat(lit("near-dup of standing doc "),
                coalesce(col("_trc_sid").cast("string"), lit("?")),
                lit(" (jaccard "),
                coalesce(col("_trc_j").cast("string"), lit("?")),
                lit(")")).cast("string").as("detail")))
        case (st, _, dropped) if st.label == "semantic" =>
          Seq(kit.stageRows(dropped, "semantic",
            lit(s"embedding verified >= ${cfg.minCosine} against a standing " +
              "member of a probed list (the lookup carries codes, not ids — " +
              "run a batch ANN probe to name the doc)")))
        // evidence: the row's own minimum Hamming against the probed
        // candidate lists — the exact decision variable the filter saw
        case (st, before, dropped) if tierIdx.contains(st.label) =>
          val label = st.label
          val tier = signatureTiers(cfg).find(_.label == label).get
          val hashed = tier.withHash(
              before.join(broadcast(dropped), Seq(idCol), "left_semi"),
              tier.binaryCol, tier.workCol)
            .select(col(idCol), col(tier.workCol).cast("long").as("_h"))
          val joined = Dedup.probeBands(hashed, tierIdx(label).get, None,
            broadcastIndex = true)
          val minHam = least((0 until 4).map(k =>
            array_min(transform(coalesce(col(s"_cand$k"),
              array().cast("array<long>")),
              h => bit_count(h.bitwiseXOR(col("_h")))))): _*)
          Seq(dropped
            .join(joined.select(col(idCol), minHam.as("_trc_h")), Seq(idCol), "left")
            .select(col(idCol), lit(label).as("stage"),
              concat(lit(s"$label signature within hamming "),
                coalesce(col("_trc_h").cast("string"), lit("?")),
                lit(" of a standing signature (the index carries hashes, " +
                  "not ids)")).cast("string").as("detail")))
      }
    } finally { kit.release() }
  }

  /** Row tracing for the INCREMENTAL batch path — the third facade's
    * trace, completing the trio (`prepTrace` for run(),
    * `prepTraceStream` for live intake): "why is this batch doc not
    * in runIncremental's output", with the standing-side evidence a
    * compaction-cadence debug needs. Two design rules keep it honest:
    *
    *  - the DEDUP BOUNDARY is the REAL operator's: the trace replays
    *    runIncremental's own stage list (`incrementalStages`), whose
    *    dedup stage IS `Dedup.dropIncrementalDuplicates`, so the
    *    kept/dropped split can never drift from production — only the
    *    per-id EVIDENCE is re-derived, with uncapped debug-sized
    *    joins, in the tier order the operator resolves (standing
    *    digest → batch digest twin → standing near-dup → batch
    *    cluster). Under hot-band caps a label can therefore name a
    *    route the capped operator didn't literally take; the drop
    *    itself is always the operator's own verdict.
    *  - batch digest twins resolve MIN-ID here and in runIncremental
    *    (full-rerun semantics — deterministic, unlike the stream's
    *    arrival order), so survivor naming is exact.
    *
    * The signature tiers' evidence splits each drop by the taint
    * rule (direct standing hit / tainted cluster member / cluster
    * collapse); the back half (ngram / decontam / semdecontam /
    * sample) words its rows like prepTrace. Debug-sized by contract;
    * the standing-sized costs are the same evidence joins
    * `prepTraceStream` pays. Output: one row per traced id —
    * (<idCol>, stage, detail); stage ∈ absent | gated | lm | qm |
    * exact_standing | exact | neardup | <tier label> | ngram |
    * decontam | semdecontam | sampled | kept. */
  def prepTraceIncremental(standing: DataFrame, batch: DataFrame,
      ids: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      cfg: Config = Config(),
      oldIndex: Option[DataFrame] = None,
      imageIndex: Option[DataFrame] = None,
      audioIndex: Option[DataFrame] = None,
      gifIndex: Option[DataFrame] = None,
      audioSegIndex: Option[DataFrame] = None): DataFrame = {
    val kit = new TraceKit(ids, idCol, cfg, batch, textCol)
    import kit.pin
    try {
      val stages = incrementalStages(standing, batch, textCol, idCol, cfg,
        kit.hold, oldIndex, imageIndex, audioIndex, gifIndex, audioSegIndex)
      kit.rows(stages, "batch", "normalize/quality/boilerplate") {
        // incremental dedup drops, labeled by the first matching route
        case (st, gated, dropped) if st.label == "dedup" =>
          val digests = gated.select(col(idCol), md5(col("clean_text")).as("_digest"))
          // (a) digest already standing
          val exactStanding = pin(digests
            .join(broadcast(dropped), Seq(idCol), "left_semi")
            .join(standing.select(md5(col("clean_text")).as("_digest")).distinct(),
              Seq("_digest"), "left_semi")
            .select(col(idCol)))
          // (b) digest twin within the batch — survivor is min-id, exact
          // here (full-rerun semantics, unlike the stream's arrival order)
          val unexplained0 = dropped.join(exactStanding, Seq(idCol), "left_anti")
          val twin = pin(unexplained0
            .join(digests, Seq(idCol))
            .join(digests.groupBy("_digest").agg(min(col(idCol)).as("_trc_surv")),
              Seq("_digest"))
            .filter(col(idCol) =!= col("_trc_surv")))
          // (c)/(d) near-dup routes: name the best-verifying standing doc
          // when one exists; else the batch cluster verdict
          val unexplained = pin(unexplained0
            .join(twin.select(idCol), Seq(idCol), "left_anti"))
          val nearStanding = pin(kit.standingNearest(gated, unexplained, standing))
          // (d) rest of the dedup drops: batch near-dup cluster members —
          // if a cluster member survived, name it; else the whole cluster
          // was tainted by standing content (runIncremental's taint rule).
          // Cluster the frame the operator clusters (batch EXACT-tier
          // survivors, not all gated docs), and collapse to exactly ONE
          // row per dropped id — band caps differ between this batch-only
          // evidence pass and the operator's old+new-capped pass, so the
          // topologies can diverge and a merged evidence cluster could
          // otherwise name several survivors (min-id shown; the docstring's
          // cap caveat covers a mislabeled ROUTE, never a duplicate row)
          val exactSurvivors = gated
            .join(exactStanding, Seq(idCol), "left_anti")
            .join(twin.select(idCol), Seq(idCol), "left_anti")
          val batchClusters = pin(Dedup.duplicateClusters(
            Dedup.minhashJaccardPairs(exactSurvivors, "clean_text", idCol,
              cfg.shingleN, cfg.minJaccard, cfg.numHashes, cfg.rowsPerBand,
              cfg.maxBucket, metricName = "graft_inctrace_lsh_cap")))
          Seq(kit.fixedRows(exactStanding, "exact_standing"),
            twin.select(col(idCol), lit("exact").as("stage"),
              concat(lit("exact duplicate of kept batch doc "), col("_trc_surv"))
                .cast("string").as("detail")),
            unexplained.join(nearStanding, Seq(idCol))
              .select(col(idCol), lit("neardup").as("stage"),
                concat(lit("near-dup of standing doc "), col("_trc_sid"),
                  lit(" (jaccard "), col("_trc_j"), lit(")"))
                  .cast("string").as("detail")),
            kit.clusterSurvivor(
                unexplained.join(nearStanding, Seq(idCol), "left_anti"),
                batchClusters, st.out)
              .groupBy(idCol)
              .agg(min(col("_trc_surv")).as("_trc_surv"))
              .select(col(idCol), lit("neardup").as("stage"),
                coalesce(
                  concat(lit("batch near-dup cluster survivor: "), col("_trc_surv")),
                  lit("batch near-dup cluster tainted by standing content " +
                    "(whole cluster dropped — transitive near-dup)"))
                  .cast("string").as("detail")))
        // signature tiers, three sub-reasons each
        case (st, _, dropped) if st.hits.isDefined =>
          val label = st.label
          val missed = dropped.join(st.hits.get, Seq(idCol), "left_anti")
          Seq(kit.stageRows(dropped.join(st.hits.get, Seq(idCol), "left_semi"),
              label, lit(s"own $label signature within hamming of a standing " +
                "signature (the index carries hashes, not ids)")),
            kit.stageRows(missed.join(st.tainted.get, Seq(idCol), "left_semi"),
              label, lit(s"member of a batch $label cluster tainted by a standing " +
                "hit (transitive near-dup of standing content)")),
            kit.survivorRows(
              missed.join(st.tainted.get, Seq(idCol), "left_anti"), st, label))
      }
    } finally { kit.release() }
  }

  /** The standing-index refusals, one definition for the facades that
    * probe a prebuilt index (runIncremental, prepStream,
    * prepTraceStream): a tier column needs its index — decoding the
    * standing corpus's media on every run would make the per-run cost
    * follow the corpus, not the batch — and an index without its
    * column would be silently ignored. `tierIdx` maps each tier the
    * facade serves (image, audio, gif, audioSeg) to its argument. */
  private def requireIndexes(where: String, cfg: Config,
      tierIdx: Map[String, Option[DataFrame]]): Unit = {
    val hashBand = "(persisted: Dedup.writeHashBandIndex + readHashBandIndex)"
    val built = Map(
      "image" -> (cfg.imageCol,
        s"Dedup.hashBandIndex over Multimodal.withPerceptualHash $hashBand"),
      "audio" -> (cfg.audioCol,
        s"Dedup.hashBandIndex over Multimodal.withAudioFingerprint $hashBand"),
      "gif" -> (cfg.gifCol, "Multimodal.gifHashBandIndex (persisted: " +
        "Multimodal.writeGifHashBandIndex + readGifHashBandIndex)"),
      "audioSeg" -> (cfg.audioSegCol, "Multimodal.audioSegmentHashBandIndex " +
        "(persisted: writeAudioSegmentHashBandIndex + " +
        "readAudioSegmentHashBandIndex)"))
    tierIdx.foreach { case (t, idx) =>
      val (c, how) = built(t)
      require(c.isEmpty || idx.isDefined,
        s"${t}Col $where needs `${t}Index` — the standing corpus's index, " +
          s"built ONCE with $how, decode-once across runs with the takedown " +
          "lifecycle; the per-run decode must follow the batch (a trace " +
          "takes the index its facade was given)")
      require(idx.isEmpty || c.isDefined,
        s"${t}Index without cfg.${t}Col would be silently ignored — set the " +
          "column, or drop the index argument")
    }
  }

  /** runIncremental's stage list — `runIncremental` executes it,
    * `prepTraceIncremental` replays it with each stage pinned. */
  private def incrementalStages(standing: DataFrame, batch: DataFrame,
      textCol: String, idCol: String, cfg: Config, hold: Hold,
      oldIndex: Option[DataFrame], imageIndex: Option[DataFrame],
      audioIndex: Option[DataFrame], gifIndex: Option[DataFrame],
      audioSegIndex: Option[DataFrame]): Seq[Stage] = {
    require(!cfg.cutHotSpans,
      "cutHotSpans is a full-run option: the incremental path would have to " +
        "re-scan the standing corpus's text for the span census, defeating its " +
        "O(batch) cost contract — pre-cut the standing corpus with run() instead")
    require(!cfg.intraNearDup && !cfg.intraNearDupVerified,
      "intraNearDup/intraNearDupVerified are the stream-only tiers — " +
        "runIncremental's near tier already verifies batch-internal " +
        "candidates exactly")
    requireIndexes("on the incremental path", cfg, Map("image" -> imageIndex,
      "audio" -> audioIndex, "gif" -> gifIndex, "audioSeg" -> audioSegIndex))
    implicit val sp: org.apache.spark.sql.SparkSession = batch.sparkSession
    val dedup = step("dedup", hold)(Dedup.dropIncrementalDuplicates(
      standing, _, "clean_text", idCol,
      cfg.shingleN, cfg.minJaccard, cfg.numHashes, cfg.rowsPerBand,
      cfg.maxBucket, oldIndex, cfg.keepPreference))
    // the media tiers, both halves of the incremental contract, with
    // the text tier's TAINTED-CLUSTER rule: batch-internal clusters
    // are computed over the FULL batch first, and a cluster with ANY
    // member near the standing index drops WHOLE (a transitive
    // near-dup of standing content — X near standing, Y near X — must
    // not survive just because Y itself clears the probe; this is
    // exactly what run() over standing+batch would do). Untainted
    // clusters then collapse under the run() survivor rule. The media
    // decode is the dominant per-batch cost and feeds three consumers
    // (pair search, standing probe, survivors), so the frame is held
    // by `hold.media` — runIncremental's localCheckpoint is safe here:
    // it attaches no observe nodes below this stage (unlike run(),
    // whose per-stage metrics forbid truncation). The positional
    // tiers (gif, audioseg) decode the batch twice (in-batch pairs +
    // the standing probe; documented on Config.gifCol — still
    // O(batch)). `hash` adds and drops a signature tier's work column.
    def taint(label: String, hash: Option[SignatureTier],
        pairs: DataFrame => DataFrame, probe: DataFrame => DataFrame
    ): DataFrame => Stage = cur => {
      val in = hold.media(hash.fold(cur)(t => t.withHash(cur, t.binaryCol, t.workCol)))
      val clusters = hold.aux(Dedup.duplicateClusters(pairs(in)))
      // rows whose OWN hash is near standing (the direct hits)
      val hits = hold.aux(in.select(col(idCol))
        .join(probe(in).select(col(idCol)), Seq(idCol), "left_anti"))
      // every member of a cluster containing a hit
      val tainted = hold.aux(clusters.join(
          clusters.join(hits.withColumnRenamed(idCol, "id"), Seq("id"),
            "left_semi").select("cluster").distinct(),
          Seq("cluster"), "left_semi")
        .select(col("id").as(idCol)))
      val kept = survivors(in
        .join(hits, Seq(idCol), "left_anti")
        .join(tainted, Seq(idCol), "left_anti"), idCol, clusters, cfg)
      Stage(label, hold.stage(hash.fold(kept)(t => kept.drop(t.workCol)), label),
        Some(clusters), Some(hits), Some(tainted))
    }
    val tierIdx = Map("image" -> imageIndex, "audio" -> audioIndex)
    val posIdx = Map("gif" -> gifIndex, "audioseg" -> audioSegIndex)
    val media = signatureTiers(cfg).map(t => taint(t.label, Some(t),
        Dedup.hashNearDupPairs(_, t.workCol, idCol, t.maxHamming, cfg.maxBucket,
          metricName = s"graft_${t.label}_band_cap"),
        Dedup.hashNearDupFilterAgainst(_, t.workCol, tierIdx(t.label).get,
          t.maxHamming))) ++
      positionalTiers(cfg).map(t => taint(t.label, None,
        t.pairs(idCol, cfg.maxBucket),
        Multimodal.positionalFilter(s"runIncremental ${t.label} tier",
          t.sampler, _, t.binaryCol, idCol, posIdx(t.label).get,
          t.maxHamming, t.minMatches, broadcastIndex = true, t.maxShift)))
    chain(batch, gateSteps(textCol, idCol, cfg, hold,
        spanCorpus = if (cfg.maxHotSpans.isDefined) Some(standing) else None) ++
      (dedup +: media) ++ tierSteps(backTiers(idCol, cfg), hold))
  }

  /** Incremental prep: a NEW batch against a STANDING prepared
    * corpus (run's output, which carries `clean_text`). The batch is
    * normalized, gated and optionally PII-redacted exactly like
    * `run`, then deduped against the standing corpus via
    * `Dedup.dropIncrementalDuplicates` (exact + near tiers,
    * full-rerun cluster semantics — the standing side is never
    * re-clustered; pass `oldIndex` from `Dedup.dedupIndex` so it is
    * never even re-hashed — build it with
    * `Dedup.dedupIndex(standing, "clean_text", idCol)` so the index
    * hashes the SAME column this method probes; a
    * mismatched index fails the config check). The boilerplate gate's
    * span census covers standing + batch, and `keepPreference`
    * applies to pure-batch near-dup clusters. Ids must be unique
    * ACROSS standing and batch — a re-crawled doc must carry a new
    * id (or be diffed out first via VulDbDiff.keyedDiff).
    * Decontamination and sampling apply to the surviving batch rows.
    * Returns the batch survivors — the rows to APPEND to the
    * standing corpus.
    *
    * Only the back half publishes observed metrics: the front reads
    * the standing corpus, whose own run() stages may carry the same
    * metric names, and a name defined twice in one plan fails
    * analysis. */
  def runIncremental(standing: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      cfg: Config = Config(),
      oldIndex: Option[DataFrame] = None,
      imageIndex: Option[DataFrame] = None,
      audioIndex: Option[DataFrame] = None,
      gifIndex: Option[DataFrame] = None,
      audioSegIndex: Option[DataFrame] = None): DataFrame = {
    val back = Set("ngram", "decontam", "semdecontam", "sampled")
    val hold = Hold((df, label) => if (back(label)) observed(cfg)(df, label) else df,
      media = _.localCheckpoint())
    incrementalStages(standing, batch, textCol, idCol, cfg, hold, oldIndex,
      imageIndex, audioIndex, gifIndex, audioSegIndex).last.out
  }

  /** SEMANTIC standing-corpus stage for incremental flows — the
    * embedding twin of `runIncremental`'s text tiers: drop batch rows
    * whose embedding reaches `cfg.minCosine` exact cosine against ANY
    * doc of a standing IVF-PQ index, found by probing the index with
    * every batch embedding (Similarity.ivfPqProbeAll: ADC-ranked list
    * scan, rerank-bounded exact verify). Compose it after
    * `runIncremental` — its text tiers cannot see paraphrases — and
    * point it at the index built once over the standing corpus
    * (`Similarity.ivfAssign` + `pqAssign`, or `readIndex` of the
    * persisted artifact). For benchmark DECONTAMINATION in embedding
    * space, index the benchmark instead: batch rows semantically close
    * to an eval doc drop the same way.
    *
    * `embStore` is the codes-only-index route (the 100 TB shape):
    * when set, `standingIndex` needs only (idCol, cid, pq_code) — M
    * bytes per standing row, no floats — and the rerank-bounded
    * shortlist fetches raw embeddings from this ONE primary store by
    * id. The same store frame can back `writeIndex` artifacts, PQ
    * pair search, and this probe, so raw vectors exist exactly once
    * across index + dedup + probe. Without it the index frame must
    * carry `cfg.embCol` itself (the in-frame path; results are
    * identical). Recall follows the usual IVF knobs (`cfg.nprobe`,
    * `rerank`); ids must be unique across batch and standing, like
    * `runIncremental`. Returns the surviving batch rows.
    *
    * With `cfg.bqModel` instead, the standing index carries D-BIT
    * packed sign codes (Similarity.bqAssign — 1/8th of SQ8's bytes,
    * no codebook) and candidates come from the band-keyed equi-join
    * (Similarity.bqBandCandidates) rather than an IVF probe; every
    * drop still passes the same exact-cosine verify, so precision is
    * identical and only RECALL differs (the banding s-curve vs ADC
    * shortlists — calibrate bqBands with the recall harness). */
  def semanticIncremental(batch: DataFrame, standingIndex: DataFrame,
      idCol: String = "doc_id", cfg: Config = Config(),
      embStore: Option[DataFrame] = None, rerank: Int = 0): DataFrame = {
    require(cfg.embCol.isDefined,
      "semanticIncremental needs cfg.embCol — the embedding column carried " +
        "by the batch and by the index frame (or embStore)")
    require(Seq(cfg.pqModel.isDefined, cfg.sqModel.isDefined,
        cfg.bqModel.isDefined).count(identity) == 1,
      "semanticIncremental needs exactly ONE codec: cfg.pqModel or cfg.sqModel " +
        "(coded IVF index) or cfg.bqModel (flat D-bit code lookup)")
    require(cfg.bqModel.isDefined || cfg.codebook.isDefined,
      "the PQ/SQ routes probe a coded IVF index and need cfg.codebook for the " +
        "inverted lists (index built with Similarity.ivfAssign + " +
        "pqAssign/pqAssignResidual or sqAssign); the BQ route is flat and needs none")
    val e = cfg.embCol.get
    val hits = (cfg.pqModel, cfg.sqModel, cfg.bqModel) match {
      case (Some(pqm), None, None) => Similarity.ivfPqProbeAll(standingIndex, e, idCol,
        batch.select(col(idCol), col(e)), idCol, e,
        cfg.codebook.get, pqm, k = 1, nprobe = cfg.nprobe,
        rerank = rerank, rerankFrom = embStore)
        .filter(col("cos") >= cfg.minCosine)
        .select(col(s"q_$idCol").as(idCol))
        .distinct()
      case (None, Some(sqm), None) => Similarity.ivfSqProbeAll(standingIndex, e, idCol,
        batch.select(col(idCol), col(e)), idCol, e,
        cfg.codebook.get, sqm, k = 1, nprobe = cfg.nprobe,
        rerank = rerank, rerankFrom = embStore)
        .filter(col("cos") >= cfg.minCosine)
        .select(col(s"q_$idCol").as(idCol))
        .distinct()
      case (None, None, Some(bqm)) =>
        // flat BQ route: band-keyed EQUI-join candidates (scales with
        // an ordinary shuffle where the flat probe's broadcast nested
        // loop would cap the batch size), then the SAME exact-cosine
        // verify as every drop decision here — the standing index
        // carries D-bit codes (Similarity.bqAssign), floats come from
        // embStore (codes-only route) or ride in the index frame.
        // Recall is the banding s-curve (cfg.bqBands/bqMaxHamming,
        // see Similarity.bqBandCandidates) — coarser than the IVF
        // probes' ADC shortlists, at 1/8th the standing bytes of SQ8.
        val batchCoded = Similarity.bqAssign(
          batch.select(col(idCol), col(e)), e, bqm)
        val cands = Similarity.bqBandCandidates(batchCoded, standingIndex,
          idCol, bqm, cfg.bqBands, cfg.bqMaxHamming, cfg.maxBucket)
        val standEmb = embStore.getOrElse(standingIndex)
          .select(col(idCol).as("id_b"), col(e).as("_se"))
        cands
          .join(batch.select(col(idCol).as("id_a"),
            expr(s"transform($e, x -> CAST(x AS DOUBLE))").as("_be")), "id_a")
          .join(standEmb, "id_b")
          .withColumn("_vcos", round(Similarity.cosine(col("_be"),
            expr("transform(_se, x -> CAST(x AS DOUBLE))")), 4))
          // !isnan: NaN >= threshold is TRUE under Spark's ordering —
          // one zero-norm standing embedding would otherwise bleed
          // rows from every future batch
          .filter(!isnan(col("_vcos")) && col("_vcos") >= cfg.minCosine)
          .select(col("id_a").as(idCol))
          .distinct()
      case _ => throw new IllegalStateException("unreachable: codec enforced above")
    }
    val out = batch.join(hits, Seq(idCol), "left_anti")
    cfg.metricPrefix.fold(out)(p =>
      out.observe(s"${p}_semantic_inc", count(lit(1)).as("rows")))
  }

  /** LIVE corpus intake — the streaming front half of the prep
    * pipeline: normalize (+ optional PII redaction) -> row-local
    * quality gates -> watermarked EXACT dedup on the content digest
    * (first ARRIVAL within the horizon wins;
    * `dropDuplicatesWithinWatermark` keeps state bounded by the
    * watermark x digest cardinality). Survivor IDENTITY is
    * arrival-order — within one micro-batch, shuffle interleaving
    * picks among same-digest twins, unlike `run`'s deterministic
    * min-id rule; the surviving CONTENT set (one row per digest) is
    * identical either way, which is what intake needs.
    *
    * `standing` (a prepared corpus carrying `clean_text`, i.e. `run`
    * output) opts into the STANDING-CORPUS tiers, the live twin of
    * `runIncremental`'s new-vs-old path: (1) rows whose digest
    * already exists in the standing corpus drop (static anti-join);
    * (2) rows sharing an LSH band with a standing doc AND verifying
    * at `cfg.minJaccard`+ exact shingle Jaccard drop — the standing
    * survivor wins, per-row with NO stream state
    * (Dedup.bandVerifyLookup / streamNearDupFilter; pass
    * `standingIndex` from Dedup.dedupIndex built over
    * `clean_text` to skip re-hashing the standing side —
    * `_cfg`-pinned like runIncremental). New-NEW near-dups inside
    * the stream are left to the batch tier by default;
    * `cfg.intraNearDup` opts into the approximate within-watermark
    * band dedup (Dedup.streamIntraBandDedup — greedy arrival-order
    * survivors, band-collision false positives, LSH-candidate
    * recall; semantics documented there), and
    * `cfg.intraNearDupVerified` into its stateful exact-Jaccard
    * upgrade (Dedup.streamIntraVerifiedDedup — band collisions
    * verify against remembered shingle sets before dropping, at the
    * price of heavier watermark-bounded state). The other corpus-statistic
    * stages (boilerplate census, clustering, decontamination) still
    * need a corpus pass and stay batch-side: run `runIncremental`
    * over the accumulated intake on whatever cadence the pipeline
    * compacts. `tsCol` must
    * be a TimestampType event-time column. Output: Append-mode
    * survivors with `clean_text` appended. */
  def prepStream(docs: DataFrame, textCol: String, tsCol: String,
      cfg: Config = Config(), watermark: String = "10 minutes",
      standing: Option[DataFrame] = None, idCol: String = "doc_id",
      standingIndex: Option[DataFrame] = None,
      semanticLookup: Option[DataFrame] = None,
      imageIndex: Option[DataFrame] = None,
      audioIndex: Option[DataFrame] = None): DataFrame =
    prepStreamWithCaches(docs, textCol, tsCol, cfg, watermark, standing,
      idCol, standingIndex, semanticLookup, imageIndex, audioIndex)._1

  /** Handle over the standing-corpus lookups a prepStream plan caches
    * for its lifetime. Without releasing them, the cached frames
    * outlive the stream (the executor memory stays pinned until the
    * session dies) — call `unpersist()` when the stream is done, or
    * `releaseOnTermination(query)` right after `start()` to have a
    * StreamingQueryListener do it the moment the query terminates
    * CLEANLY (then deregister itself). A FAILED termination keeps the
    * caches: the common move is a checkpoint restart reusing the same
    * prepared frame, which needs them — release an abandoned failed
    * stream with `unpersist()`. The registration also settles the
    * already-terminated race: a query that died before the listener
    * attached is handled by a direct isActive check. A stream built
    * WITHOUT a standing corpus holds no caches and the handle is a
    * no-op. */
  final class StreamCaches private[CorpusPrep] (
      private[graft] val frames: Seq[DataFrame]) {
    def unpersist(): Unit = frames.foreach { f => f.unpersist(); () }
    def releaseOnTermination(
        query: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      if (frames.isEmpty) return
      val spark = frames.head.sparkSession
      val qid = query.id
      import org.apache.spark.sql.streaming.StreamingQueryListener
      val listener: StreamingQueryListener = new StreamingQueryListener {
        override def onQueryStarted(
            e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid) {
            // release only on CLEAN termination: a FAILED query is
            // commonly restarted from its checkpoint with the same
            // prepared frame, and unpersisting here would silently
            // demote every post-restart micro-batch to a full
            // standing-corpus re-scan. An abandoned failed stream
            // releases via unpersist() explicitly.
            if (e.exception.isEmpty) unpersist()
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
      // the query may have terminated in the gap before addListener —
      // that event was posted already and will never reach us. isActive
      // turns false only at termination, so one check settles it
      // directly (double unpersist/removeListener are no-ops).
      if (!query.isActive) {
        if (query.exception.isEmpty) unpersist()
        spark.streams.removeListener(listener)
      }
    }
  }

  /** `prepStream` plus the handle over its standing-corpus caches —
    * use this form when the stream has a bounded life (see
    * StreamCaches; the no-handle overload keeps the documented
    * restart-to-refresh contract and leaves release to session
    * teardown). */
  def prepStreamWithCaches(docs: DataFrame, textCol: String, tsCol: String,
      cfg: Config = Config(), watermark: String = "10 minutes",
      standing: Option[DataFrame] = None, idCol: String = "doc_id",
      standingIndex: Option[DataFrame] = None,
      semanticLookup: Option[DataFrame] = None,
      imageIndex: Option[DataFrame] = None,
      audioIndex: Option[DataFrame] = None): (DataFrame, StreamCaches) = {
    val tierIdx = Map("image" -> imageIndex, "audio" -> audioIndex)
    requireStreamable(cfg, standing, standingIndex, semanticLookup, tierIdx)
    require(!(cfg.intraNearDup && cfg.intraNearDupVerified),
      "intraNearDup and intraNearDupVerified are alternative tiers for the " +
        "same stage — pick the greedy band dedup OR the stateful verified one")
    // each standing lookup is cached for the stream's lifetime: a
    // stream-static join re-executes its static side EVERY
    // micro-batch, so per-batch cost must follow the batch, not the
    // corpus. Restart the stream to refresh them after a
    // standing-corpus compaction; release them through the returned
    // StreamCaches handle when the stream is done.
    val caches = Vector.newBuilder[DataFrame]
    // the opt-in new-NEW tier runs BEFORE the standing filters: a
    // stream doc that near-dups standing content must still seed the
    // intra state (its own later twins belong to the same cluster the
    // batch rule would collapse)
    def exact(cur: DataFrame): DataFrame = {
      val first = cur
        .withColumn("_digest", md5(col("clean_text")))
        .withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark("_digest")
      if (cfg.intraNearDupVerified)
        Dedup.streamIntraVerifiedDedup(first, "clean_text", tsCol,
          cfg.shingleN, cfg.minJaccard, cfg.numHashes, cfg.rowsPerBand)
      else if (cfg.intraNearDup)
        Dedup.streamIntraBandDedup(first, "clean_text",
          cfg.shingleN, cfg.numHashes, cfg.rowsPerBand)
      else first
    }
    val out = streamStages(docs, textCol, idCol, cfg, Hold((df, _) => df),
      exact, { df => val c = df.cache(); caches += c; c }, standing,
      standingIndex, semanticLookup, tierIdx).last.out
    (out, new StreamCaches(caches.result()))
  }

  /** Yield report: rows in, rows out, reduction percentage. */
  def yieldStats(before: DataFrame, after: DataFrame): (Long, Long, Double) = {
    val in = before.count()
    val out = after.count()
    (in, out, if (in == 0) 0.0 else 100.0 * (in - out) / in)
  }
}
