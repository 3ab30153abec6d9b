package perfbench

import graft.clips.ClipsTable

/** Plain-Scala expectations computed from the generated inputs. Nothing
  * here calls the engine: each rule is re-derived from the documented
  * injection arithmetic (ClipsTable, ValidationPipeline, RepairQueries) and
  * from exact set similarity over the generated texts. */
object Reference {

  final case class Clip(ord: Long, id: String, sr: Int, codec: String,
      transcript: Option[String], bucket: Long)

  final case class Verdict(bucket: Long, nRows: Long, nBad: Long)

  final case class Violation(id: String, check: String, column: String, detail: String)

  def clip(o: Gen.Order): Clip = {
    val k = o.key
    val id = "clip-%012d".format(if (k % 101 == 0) k + 1 else k)
    val sr =
      if (k % 97 == 0) 7999
      else Seq(8000, 16000, 22050, 44100, 48000)(((k * 7) % 5).toInt)
    val m = k % 20
    val codec =
      if (k % 211 == 0) "speex"
      else if (m < 14) "pcm_s16le" else if (m < 17) "flac" else if (m < 19) "opus" else "mp3"
    val transcript =
      if (k % 89 == 0) None
      else if (k % 113 == 0) Some("")
      else Some(s"${o.priority} order $k status ${o.status}")
    Clip(k, id, sr, codec, transcript, k % ClipsTable.NumBuckets)
  }

  private def rowBad(c: Clip): Boolean =
    c.transcript.forall(_.isEmpty) || c.sr < ClipsTable.SrMin || c.sr > ClipsTable.SrMax ||
      !ClipsTable.CodecEnum.contains(c.codec)

  /** The fused pipeline's audio invariants: a corrupted SNR every 149th key,
    * a duration mismatch every 157th. */
  private def audioBad(c: Clip): Boolean = c.ord % 149 == 0 || c.ord % 157 == 0

  /** Ids absent from the refs table: every row carrying the id is withheld. */
  private def missingRefs(clips: Seq[Clip]): Set[String] =
    clips.groupBy(_.id).collect { case (id, cs) if cs.forall(_.ord % 131 == 0) => id }.toSet

  private def duplicated(clips: Seq[Clip]): Set[String] =
    clips.groupBy(_.id).collect { case (id, cs) if cs.size > 1 => id }.toSet

  /** Per-bucket (n_rows, n_bad) of the metadata suite, or of the full
    * suite with the audio invariants when `audio` is set. */
  def verdicts(clips: Seq[Clip], audio: Boolean): Map[Long, Verdict] = {
    val dup = duplicated(clips)
    val miss = missingRefs(clips)
    clips.groupBy(_.bucket).map { case (b, cs) =>
      val bad = cs.count(c =>
        rowBad(c) || (audio && audioBad(c)) || dup(c.id) || miss(c.id))
      b -> Verdict(b, cs.size.toLong, bad.toLong)
    }
  }

  /** Violations of an appended delta: row and referential checks over the
    * delta rows, plus one uniqueness row per duplicate group that has a
    * delta member (CheckCompiler.incrementalDupGroups). Refs come from the
    * whole generated table. */
  def deltaViolations(delta: Seq[Clip], before: Seq[Clip], all: Seq[Clip]): Seq[Violation] = {
    val miss = missingRefs(all)
    val rows = delta.flatMap { c =>
      Seq(
        Option.when(c.transcript.isEmpty)(Violation(c.id, "not_null_transcript", "transcript", "null")),
        Option.when(c.transcript.contains(""))(Violation(c.id, "not_empty_transcript", "transcript", "empty")),
        Option.when(c.sr < ClipsTable.SrMin || c.sr > ClipsTable.SrMax)(
          Violation(c.id, "in_range_sr_hz", "sr_hz", c.sr.toString)),
        Option.when(!ClipsTable.CodecEnum.contains(c.codec))(Violation(c.id, "enum_codec", "codec", c.codec)),
        Option.when(miss(c.id))(Violation(c.id, "ref_clip_id_refs", "clip_id", "missing_ref"))
      ).flatten
    }
    val deltaIds = delta.map(_.id).toSet
    val dups = (before ++ delta).groupBy(_.id).collect {
      case (id, cs) if cs.size > 1 && deltaIds(id) =>
        Violation(id, "unique_clip_id", "clip_id", cs.size.toString)
    }
    rows ++ dups
  }

  // ---- text similarity ---------------------------------------------------

  def jaccard[A](a: Set[A], b: Set[A]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  /** Character 5-grams (Dedup.charShingles before hashing). */
  def grams(text: String): Set[String] =
    if (text.length < 5) Set(text) else (0 to text.length - 5).map(i => text.substring(i, i + 5)).toSet

  /** Whitespace tokens (Dedup.tokenJaccard before the join). */
  def tokens(text: String): Set[String] = text.trim.split("\\s+").toSet

  /** Word 3-shingles (Dedup.shingles before hashing). */
  def wordShingles(text: String): Set[String] = {
    val ws = text.trim.split("\\s+")
    if (ws.length < 3) Set(ws.mkString(" ")) else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  /** Planted pairs (both orders of a cluster's members, smaller id first). */
  def plantedPairs(d: Gen.Docs): Seq[(Long, Long)] =
    d.clusters.flatMap(c => c.ids.combinations(2).map(p => (p(0), p(1))))
}
