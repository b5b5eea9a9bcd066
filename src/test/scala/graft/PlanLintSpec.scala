package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global plan lint: EVERY gate query's physical plan, one sweep, the
  * invariants the per-query pins assert locally — so a new operator (or
  * a Catalyst upgrade) cannot quietly ship the classic scale-killers.
  *
  * What it catches that per-query pins don't: the pins cover queries
  * someone thought to pin. This covers all of SparkEntry.queries —
  * every future addition is linted the day it lands.
  *
  * Deliberately NOT asserted here: exchange/scan counts (plan-shape
  * details that belong to the per-query pins, where intent is known). */
class PlanLintSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 4

  private val sfDir = "/root/testdata/sf0.001"

  /** Audited non-cross BNLJs — each one a BROADCAST SMALL SIDE by
    * design, not an accident (the Cross-tagged 1-row stats joins are
    * allowed implicitly everywhere):
    *  - j14/m6 archive: the needle/path-prefix side broadcasts against
    *    a startswith theta predicate — the designed descendant join
    *    (an equi-join cannot express prefix containment);
    *  - x18/x116: query × K-centroid scoring — conditionless Inner over
    *    the broadcast codebook (K ≤ √n rows), IS the IVF probe step;
    *  - x96: the recall sweep runs that probe once per nProbe setting.
    * A new non-cross BNLJ anywhere else fails the lint until it is
    * audited and added here with its reason. */
  private val auditedNonCrossBnlj = Map(
    "j14_descendant_dirs" -> 1,
    "m6_delete_dir_archive" -> 1,
    "m6_delete_file_archive" -> 1,
    "x18_ann_ivf" -> 1,
    "x116_hard_negatives" -> 1,
    "x96_ann_recall" -> 1,
    // the x96 exact brute-force kernel reused as the curve's truth side:
    // corpus × broadcast SAMPLED query batch, deliberate by design
    "x162_probe_yield" -> 1)

  /** Audited UNPARTITIONED windows — each one a window over a relation
    * PROVABLY bounded independent of corpus size, with the bound named.
    * x153's first cut is exactly what this catches: a global
    * carry-forward window whose input (|sources|·1e6 grid union) is NOT
    * bounded independent of the corpus shape slipped through because
    * Window partition keys were deliberately unlinted. A new
    * unpartitioned window anywhere fails until its input's bound is
    * argued here. Values are (maxCount, bound argument). */
  private val auditedGlobalWindows: Map[String, (Int, String)] = Map(
    "x84_vocab_growth" -> (3,
      "running union over the 10 fixed sample buckets (≤10 rows)"),
    "x86_zipf_fit" -> (1,
      "rank over the top-1000 token aggregate (≤1000 rows)"),
    "x99_length_ks" -> (1,
      "global CDF over the per-n_chars count aggregate — bounded by " +
        "the distinct-length grid, not the corpus"),
    "x101_hybrid_rrf" -> (2,
      "row_number over the two LIMIT-n candidate lists (≤50 rows each)"),
    "x138_water_fill" -> (2,
      "allocation math over the per-lang token aggregate (≤|langs| rows)"),
    "x144_shard_manifest" -> (1,
      "TwoPhase offset window over the ≤64-row bucket aggregate"),
    "x153_quantile_normalize" -> (3,
      "TwoPhase offset windows over ≤256-row bucket aggregates " +
        "(global grid cumsum ×2 via the union's double evaluation + " +
        "the carry-forward as-of)"),
    "x162_probe_yield" -> (1,
      "cumulative hits over the per-probe-rank aggregate — bounded by " +
        "the K-row codebook, never the corpus"))

  test("every unpartitioned Window is audited with its input's bound") {
    // unpartitioned = the first windowspecdefinition argument is an
    // ORDER column (carries an ASC/DESC marker); partition columns
    // precede order columns and carry no marker
    val spec = "windowspecdefinition\\(([^)]*)".r
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val unpart = spec.findAllMatchIn(plan).map(_.group(1)).count { s =>
            val first = s.split(",")(0)
            first.contains(" ASC") || first.contains(" DESC")
          }
          val allowed = auditedGlobalWindows.get(name).map(_._1).getOrElse(0)
          if (unpart > allowed)
            Seq(s"$name: $unpart unpartitioned window(s), $allowed audited")
          else Nil
        } catch {
          case e: Throwable => Seq(s"$name: planning failed: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  /** Window PARTITION keys whose group is ONE entity's rows — bounded by
    * that entity's own size (one document's tokens, one user's events,
    * one query's candidate list, one order's lines), never by corpus
    * cardinality. Windows partitioned on ONLY these keys are implicitly
    * legal everywhere. Everything else — content-derived keys
    * (content_hash, token, source, lang, cluster …) and computed `_w`
    * keys — must be audited per query below with the argument for why
    * its largest group stays bounded at 100×. */
  private val entityBoundedKeys = Set(
    "doc_id", "vec_id", "query_id", "qid", "user_id", "file_a",
    "l_orderkey", "l_partkey")

  /** Audited content-derived window partition keys, per query:
    * keyset (cleaned names, sorted, comma-joined) → boundedness
    * argument. The round-11 lesson formalized: WindowExec buffers each
    * partition-key group in ONE task with no AQE skew splitting and no
    * map-side partials, so a window keyed on anything whose group size
    * tracks corpus scale (a Zipf token, a viral content hash, a
    * dominant source) is a guaranteed single-task cliff — x131/x87/
    * x109/x107 were rewritten to groupBy-aggregate + join-back for
    * exactly this, and x94/x108's rank-1 dedup windows to
    * min-aggregates. A new content-key window fails until its group
    * bound is argued here; a stale entry (keyset no longer planned)
    * also fails, so the map tracks the plans it documents. */
  private val auditedPartitionKeys: Map[String, Map[String, String]] = Map(
    "j18_band_stats" -> Map(
      "__b,event_type" -> ("the ordered running-interleave IS the as-of/" +
        "band operator (merge_asof partitioning); group = one (type, " +
        "value-band) timeline, spread by the band grid"),
      "__b,event_type,value" -> ("same interleave sub-partitioned by the " +
        "value column — strictly finer groups")),
    // round 18: j16 rides the same halo-bucketed machinery (its plan form
    // is valueBandPairsAgg) — identical partition keys, identical bound
    "j16_band_join" -> Map(
      "__b,event_type" -> ("the ordered running-interleave IS the as-of/" +
        "band operator (merge_asof partitioning); group = one (type, " +
        "value-band) timeline, spread by the band grid"),
      "__b,event_type,value" -> ("same interleave sub-partitioned by the " +
        "value column — strictly finer groups")),
    "x100_proto_prune" -> Map(
      "centroid_id" -> ("one IVF posting list (K≈√n lists, E|list|=√n, " +
        "k-means balance is the training objective); the per-member " +
        "rank IS the output — inherently a per-list ordered pass")),
    "x106_nb_confusion" -> Map(
      "lang" -> ("row-normalization over the |langs|² confusion matrix " +
        "aggregate — never doc mass")),
    "x114_subword_budget" -> Map(
      "stratum" -> ("rank≤k per stratum: WindowGroupLimit partial heaps " +
        "prune to k rows per task BEFORE the exchange — the shuffle " +
        "never carries a stratum's full mass")),
    "x124_event_bursts" -> Map(
      "event_type" -> ("trailing frame over the DENSIFIED (type, hour) " +
        "grid aggregate — group = one type's hour span, time-bounded, " +
        "not event mass")),
    "x166_changepoint" -> Map(
      "event_type" -> ("CUSUM prefix sum over the same DENSIFIED (type, " +
        "hour) grid as x124 — group = one type's hour span, calendar-" +
        "bounded, never event mass; the argmax after it is a " +
        "map-side-combinable aggregate")),
    "x126_zone_map_audit" -> Map(
      "layout" -> "2 fixed layouts over the ≤256-bucket zone aggregate",
      "__bk,layout" -> ("TwoPhase intra-bucket pass over the same " +
        "bounded zone aggregate")),
    "x129_sample_quantiles" -> Map(
      "lang" -> ("cumsum over the per-(lang, token-count) COUNT " +
        "aggregate — group = one lang's distinct lengths (longest-doc " +
        "bounded), mass collapsed map-side")),
    "x135_session_transitions" -> Map(
      "next_type" -> "margin sums over the |types|² transition matrix",
      "prev_type" -> "margin sums over the |types|² transition matrix"),
    "x137_disorder_profile" -> Map(
      "event_type" -> ("totals over the per-(type, __bk) TwoPhase bucket " +
        "aggregate (≤256 buckets/type)"),
      "__bk,event_type" -> ("TwoPhase intra-bucket pass over the same " +
        "bounded bucket aggregate")),
    "x160_policy_delta" -> Map(
      "doc_a,doc_b" -> ("orientation-split running count over ONE " +
        "verified rep pair's two clique member sets — group = w_a + " +
        "w_b rows, LINEAR in the copy counts whose Θ(w_a·w_b) " +
        "expansion it replaces, and only payload-differing rep pairs " +
        "walk their members at all")),
    "x168_watermark_yield" -> Map(
      "event_type" -> ("same TwoPhase lateness kernel as x137 — totals " +
        "over the per-(type, __bk) bucket aggregate (≤64 buckets/type)"),
      "__bk,event_type" -> ("TwoPhase intra-bucket pass over the same " +
        "bounded bucket aggregate")),
    "x138_water_fill" -> Map(
      "_w0" -> ("allocation cumsum over the per-lang token aggregate " +
        "(≤|langs| rows; _w0 is a computed constant-ish partition key " +
        "of that aggregate)")),
    "x144_shard_manifest" -> Map(
      "__bk" -> "TwoPhase pass over the ≤64-row bucket aggregate"),
    "x148_quality_percentile" -> Map(
      "source" -> ("cumsum over the per-(source, q_micro) COUNT " +
        "aggregate — group ≤ the 10⁶-value micro-grid, never doc mass " +
        "(docs get their rank via join-back on the grid)")),
    "x153_quantile_normalize" -> Map(
      "source" -> ("per-source cumsum over the same micro-grid COUNT " +
        "aggregate as x148 (grid-bounded)"),
      "__bk" -> "TwoPhase pass over ≤256-bucket aggregates"),
    "x26_pack_chunks" -> Map(
      "shard" -> ("pack order within ONE output shard — shard count is " +
        "the layout knob sized so a shard fits a task (the writer's " +
        "contract); in-shard order is the operator's semantic")),
    "x29_quota_sample" -> Map(
      "lang" -> ("per-(lang, token-count) COUNT aggregate (longest-doc " +
        "bounded; same compression as x129)")),
    "x30_training_pipeline" -> Map(
      "shard" -> "same bounded-shard pack order as x26"),
    "x32_length_quantiles" -> Map(
      "lang" -> ("per-(lang, length) COUNT aggregate — distinct-length " +
        "bounded")),
    "x36_top_terms" -> Map(
      "lang" -> ("rank over the per-(lang, token) VOCAB aggregate — " +
        "group = one lang's distinct vocab (Heaps-sublinear), token " +
        "mass collapsed map-side before the window")),
    "x37_token_budget" -> Map(
      "lang" -> ("per-(lang, length) COUNT aggregate — distinct-length " +
        "bounded")),
    "x44_length_gate" -> Map(
      "lang" -> ("per-(lang, length) COUNT aggregate — distinct-length " +
        "bounded")),
    "x81_source_keyness" -> Map(
      "source" -> ("rank≤k over the G²/minCount-FILTERED per-(source, " +
        "token) vocab aggregate — one source's significant vocab, " +
        "mass collapsed map-side")),
    "x91_stratified_priority" -> Map(
      "stratum" -> ("rank≤k per stratum via WindowGroupLimit partial " +
        "heaps (pruned to k per task before the exchange)")),
    "x99_length_ks" -> Map(
      "source" -> ("CDF cumsum over the sources×distinct-lengths GRID " +
        "(count aggregate) — grid-bounded, never doc mass")))

  /** All windowspecdefinition partition-key sets in a plan string —
    * paren-balanced arg split; partition cols are the leading args
    * before the first ASC/DESC-marked order col or the frame spec.
    * Unpartitioned windows (empty sets) are the other test's job. */
  private def windowPartitionKeySets(plan: String): Seq[String] = {
    val marker = "windowspecdefinition("
    val out = Seq.newBuilder[String]
    var idx = plan.indexOf(marker)
    while (idx >= 0) {
      var i = idx + marker.length
      var depth = 1
      val sb = new StringBuilder
      val args = Seq.newBuilder[String]
      while (depth > 0 && i < plan.length) {
        val c = plan.charAt(i)
        if (c == '(') { depth += 1; sb.append(c) }
        else if (c == ')') { depth -= 1; if (depth > 0) sb.append(c) }
        else if (c == ',' && depth == 1) { args += sb.toString; sb.clear() }
        else sb.append(c)
        i += 1
      }
      args += sb.toString
      val partCols = args.result().map(_.trim)
        .takeWhile(a => !a.contains(" ASC") && !a.contains(" DESC") &&
          !a.startsWith("specifiedwindowframe"))
        .map(_.replaceAll("#\\d+L?", ""))
        .filter(_.nonEmpty)
      if (partCols.nonEmpty)
        out += partCols.distinct.sorted.mkString(",")
      idx = plan.indexOf(marker, i)
    }
    out.result().distinct
  }

  test("every content-key-partitioned Window is audited with its group bound") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val sets = windowPartitionKeySets(plan)
          val contentKeyed = sets.filterNot(
            _.split(",").forall(entityBoundedKeys.contains))
          val audited = auditedPartitionKeys.getOrElse(name, Map.empty)
          val unaudited = contentKeyed.filterNot(audited.contains)
            .map(s => s"$name: window partitioned on content key(s) [$s] " +
              "— argue the group bound in auditedPartitionKeys or rewrite " +
              "as a map-side-combinable aggregate + join-back")
          val stale = audited.keys.filterNot(contentKeyed.contains)
            .map(s => s"$name: stale audit entry [$s] — no longer planned")
          unaudited ++ stale
        } catch {
          case e: Throwable => Seq(s"$name: planning failed: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("no gate query plans a CartesianProduct or an unaudited non-cross BNLJ") {
    val crossBnlj =
      "BroadcastNestedLoopJoin Build(Right|Left), Cross".r
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val errs = Seq.newBuilder[String]
          if (plan.contains("CartesianProduct"))
            errs += "CartesianProduct"
          val bnljAll = plan.split("BroadcastNestedLoopJoin").length - 1
          val bnljCross = crossBnlj.findAllIn(plan).length
          val nonCross = bnljAll - bnljCross
          val allowed = auditedNonCrossBnlj.getOrElse(name, 0)
          if (nonCross > allowed)
            errs += s"$nonCross non-cross BNLJ(s), $allowed audited — " +
              "broadcast-small-side by design or a bug; audit before allowing"
          errs.result().map(e => s"$name: $e")
        } catch {
          case e: Throwable => Seq(s"$name: planning failed: ${e.getMessage}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
