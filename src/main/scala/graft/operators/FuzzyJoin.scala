package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-string (fuzzy) self-join via the sorted-neighborhood
  * method: rows are globally ordered by the string, and only pairs
  * within `window` positions of each other are compared — the classic
  * entity-resolution blocking that turns an O(N²) all-pairs edit
  * distance into O(N·window) comparisons.
  *
  * Composed entirely from the engine's existing scale primitives:
  * [[GlobalRank.withGlobalRowNumber]] assigns the global order in two
  * phases (no single-partition window), and the neighbor join is the
  * [[RangeJoin]] banding trick — each left row lands in 2 rank-buckets
  * of width `window`, the join is a plain EQUI-join on the bucket, and
  * the exact `0 < rn_b - rn_a <= window` band plus the levenshtein
  * verify run as post-join filters. No all-pairs stage exists at any
  * scale; cost is N·window candidate pairs, shuffle-parallel on the
  * bucket key.
  *
  * Like all sorted-neighborhood blocking this trades recall for
  * scale: only near-neighbors IN SORT ORDER are compared. Measured on
  * the sf0.01 part names (round 14, NOTES.md): the full all-pairs
  * truth at distance <= 2 holds 53,011 pairs, the window-3 single pass
  * finds 5,616 (10.6 %) and a reverse-key second pass adds only 96 —
  * on a domain where edit-similar strings are NOT prefix-similar,
  * no small number of sort keys recovers sort-distant pairs. The
  * operator's verifiable contract is therefore exactly "pairs within
  * `window` sort positions" (what the oracle checks); corpora whose
  * similarity is not sort-local belong on the q-gram/LSH blocking
  * family instead ([[TextDedup]] dd02/dd03 — shared-token equi-joins
  * whose candidates don't depend on a global order).
  */
object FuzzyJoin {

  /** Default equal-key block-width cap for the prefix-token candidate
    * joins ([[qgramJoin]], [[jaroWinklerJoin]]): natural blocks are
    * small by construction (tokens are rarest-document-frequency-first,
    * so hot tokens sit outside most prefixes) — only mass duplication
    * of one string builds a wide block, and C(64k, 2) ≈ 2·10⁹ candidate
    * pairs from one key is already a straggler that deserves a loud
    * death over a silent one. */
  val DefaultMaxBlockSize: Int = 65536

  /** The shared block-width guard: raise_error per (gram, occ) token
    * block wider than `cap`. Shape: a map-side-combined aggregate over
    * the (MATERIALIZED) prefix finds offending tokens — its shuffle is
    * #distinct tokens, not data — and a BROADCAST left join plants the
    * raise on every row of an offending block, firing while the
    * candidate join's input is scanned, before any pair row
    * materializes. (A count-window riding the join key was tried
    * first, the Baskets discipline — but (gram, occ) is a
    * low-cardinality skewed key, and WindowExec's partition sort cost
    * ~1 s/entry at sf0.1 where the offender set is almost always
    * EMPTY; the aggregate form is measured net-free.) */
  private def blockGuarded(prefix: DataFrame, cap: Int, who: String): DataFrame = {
    val offend = prefix.groupBy("gram", "occ")
      .agg(count(lit(1)).as("__blk"))
      .filter(col("__blk") > cap)
    prefix.join(broadcast(offend), Seq("gram", "occ"), "left")
      .withColumn("__id",
        when(col("__blk").isNotNull, raise_error(concat(
          lit(s"$who: prefix token ('"), col("gram"), lit("', occ "),
          col("occ").cast("string"), lit(") is shared by "),
          col("__blk").cast("string"),
          lit(s" strings, over maxBlockSize=$cap; the candidate join is " +
            "quadratic in block width — exact-dedup cloned strings " +
            "upstream (q25/dd01) or raise the cap deliberately"))))
          .otherwise(col("__id")))
      .drop("__blk")
  }

  /** EXACT fuzzy self-join via count-filtered q-gram prefix blocking —
    * the COMPLETE-recall counterpart of [[sortedNeighborhood]] (the
    * SSJoin/PPJoin family, public literature): every pair with edit
    * distance <= `maxDistance` IS in the output, yet no all-pairs
    * stage exists.
    *
    * Why it is exact: one edit destroys at most `q` of a string's
    * positional q-grams, so ED(a,b) <= d implies the gram MULTISETS
    * share >= max(|Ga|,|Gb|) - q*d tokens; under any fixed total token
    * order, such a pair must then share a token among each side's
    * (q*d + 1) smallest tokens — so joining only those PREFIX tokens
    * (on (gram, occurrence) so repeats can't inflate set overlap)
    * loses nothing. Tokens are ordered rarest-document-frequency-first,
    * which is also the performance lever: hot grams ("th", "in") sit
    * outside most prefixes, so the candidate join never explodes on
    * them. A cheap |length| difference filter and the levenshtein
    * verify run post-join.
    *
    * Cost: |prefix| = q*d + 1 tokens per string into one equi-join on
    * (gram, occ) + one distinct + the verify — shuffle-parallel, sized
    * by true near-pair density, never N². Precondition (loud): every
    * string needs > q*d grams (length >= q*d + q), else the count
    * bound is vacuous for that string and NO prefix filter is sound.
    *
    * @param maxBlockSize loud cap on the equal-(gram, occ) prefix-token
    *   block width — the candidate join's quadratic skew axis (the
    *   Baskets basket-width / semanticDedup cluster-size discipline):
    *   one string cloned C times shares every prefix token, so a single
    *   (gram, occ) key emits C(C,2) candidate pairs. The width check is
    *   a map-side-combined aggregate + broadcast raise (see
    *   [[blockGuarded]]), so the job dies naming the token BEFORE any
    *   pair row materializes. Callers hitting the cap should exact-dedup
    *   clones upstream (q25/dd01 — identical strings are by definition
    *   edit-distance 0), not raise the cap.
    * @return (id_a, id_b, dist), id_a < id_b, exact and complete
    */
  def qgramJoin(df: DataFrame, idCol: String, strCol: String,
                q: Int = 2, maxDistance: Int = 2,
                maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    require(q >= 1, s"q must be >= 1, got $q")
    require(maxDistance >= 1, s"maxDistance must be >= 1, got $maxDistance")
    require(maxBlockSize >= 1, s"maxBlockSize must be >= 1, got $maxBlockSize")
    val prefixLen = q * maxDistance + 1
    val minLen = q * maxDistance + q
    // Loud preconditions — the complete-recall contract is only sound
    // when every row participates, so both are enforced PER ROW, riding
    // the working-set materialization job itself (no separate pre-scan
    // pass over the input — the decayedSum discipline):
    //   - null strings have no grams and would silently vanish from the
    //     join (and slip past any min(length) aggregate — min ignores
    //     nulls): raise_error instead;
    //   - a string with <= q*d grams could reach another string within
    //     d edits without sharing a prefix token, so the count bound is
    //     vacuous for it: raise_error names the offender.
    // An EMPTY input yields an empty (correct, complete) result.
    val strs = df.select(col(idCol).as("__id"),
      when(col(strCol).isNull, raise_error(lit(
        s"qgramJoin: null string present; nulls have no grams and would " +
          "be silently dropped — filter or fill first")))
        .when(length(col(strCol)) < minLen, raise_error(concat(
          lit(s"qgramJoin(q=$q, maxDistance=$maxDistance) needs every string " +
            s"of length >= $minLen; got '"), col(strCol), lit("'"))))
        .otherwise(col(strCol)).as("__s"))
    TextDedup.withWorkingSet(strs) { s =>
      // (id, gram, occ): multiset tokens — occ numbers repeats so two
      // strings share min(count_a, count_b) join rows per gram. The
      // string payload rides the token stream DELIBERATELY: the
      // shuffle-the-proxy form (ids only through the blocking pipeline,
      // strings re-attached at candidate size — guide §8) was MEASURED
      // in r22 and LOST at sf0.1 (fz02 2.5 -> 3.1 s, fz04 2.7 -> 3.2 s):
      // these keys are short strings, and two extra candidate-sized
      // joins cost more than the narrower exchanges save. Re-try only
      // with long-payload keys.
      val toks = s
        .select(col("__id"), col("__s"),
          explode(sequence(lit(1), length(col("__s")) - (q - 1))).as("__i"))
        .select(col("__id"), col("__s"), expr(s"substring(__s, __i, $q)").as("gram"))
        .groupBy("__id", "__s", "gram").agg(count(lit(1)).cast("int").as("__cnt"))
        .select(col("__id"), col("__s"), col("gram"),
          explode(sequence(lit(1), col("__cnt"))).as("occ"))
      TextDedup.withWorkingSet(toks) { tk =>
        val dfreq = tk.groupBy("gram").agg(count_distinct(col("__id")).as("__df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__id").orderBy(col("__df"), col("gram"), col("occ"))
        // The RAW prefix feeds three consumers (both candidate-join
        // sides + the guard's width aggregate): materialize it once
        // (third working-set level) so the dfreq join and rank window
        // run a single time — r17: the unmaterialized form re-ran them
        // per side (fz04 +75% at sf1). The guard itself is a lazy
        // broadcast left join whose exchange is REUSED across the two
        // sides (near-free when no block offends).
        TextDedup.withWorkingSet(tk.join(dfreq, "gram")
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= prefixLen)
          .select(col("__id"), col("__s"), col("gram"), col("occ"))) { raw =>
          val prefix = blockGuarded(raw, maxBlockSize, "qgramJoin")
          val cand = prefix.select(col("__id").as("id_a"), col("__s").as("s_a"),
              col("gram"), col("occ"))
            .join(prefix.select(col("__id").as("id_b"), col("__s").as("s_b"),
              col("gram"), col("occ")), Seq("gram", "occ"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b", "s_a", "s_b")
            .distinct()
          cand
            .filter(abs(length(col("s_a")) - length(col("s_b"))) <= maxDistance)
            // Catalyst inlines `dist` back into the filter, so the plan
            // still evaluates levenshtein in the filter and the project
            // (VERDICT.md, "What's wrong" item 2); this shape is only the
            // simpler one.
            .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
            .filter(col("dist") <= maxDistance)
            .select(col("id_a"), col("id_b"), col("dist"))
        }
      }
    }
  }

  /** EXACT Jaro–Winkler-threshold self-join via character-overlap
    * prefix blocking — the jw-bound sibling of [[qgramJoin]] (the
    * PPJoin prefix-filter idea applied to the Jaro bound): every pair
    * with jw(a,b) >= `threshold` IS in the output, no all-pairs stage.
    *
    * Why it is exact. Winkler's boost is bounded (prefix <= 4,
    * factor 0.1), so jw >= θ forces jaro >= θj := (θ - 0.4)/0.6.
    * Jaro's matched-character count m obeys
    * jaro <= (m/l1 + m/l2 + 1)/3 and m never exceeds the CHARACTER
    * MULTISET overlap, hence a qualifying pair shares
    * K >= (3·θj - 1)·l1·l2/(l1 + l2) characters (with multiplicity);
    * m <= min(l1,l2) additionally forces the partner length into
    * [l1·(3θj - 2), l1/(3θj - 2)]. Evaluating K at each string's
    * SMALLEST admissible partner length gives a per-string overlap
    * floor, and the standard pigeonhole then says a qualifying pair
    * must share a token among each side's (len - K + 1) smallest
    * (char, occurrence) tokens under any fixed total order. Join only
    * those prefix tokens (rarest-document-frequency-first — the
    * [[qgramJoin]] lever), verify with the exact [[graft.functions.jaro_winkler]]
    * expression post-join. All conservative roundings round TOWARD
    * more candidates (floor on l2min, ceil(x - 1e-9) on K), so FP
    * noise can only add candidates, never lose a pair.
    *
    * θ >= 0.81 is required: it keeps θj > 2/3, where the length window
    * and overlap floor are non-vacuous (K >= 1). Empty strings score
    * jw = 0 with everything (pinned semantics) and are correctly
    * absent; null strings fail loudly per row ([[qgramJoin]] contract).
    *
    * Scale shape: |prefix| tokens per string into one (char, occ)
    * equi-join + distinct + the codegen'd jw verify — shuffle-parallel,
    * sized by true near-pair density. Honest caveat vs [[qgramJoin]]:
    * 1-char tokens over a small alphabet block less sharply than
    * 2-grams; the rarest-first prefix order is what keeps hot letters
    * out of most prefixes.
    *
    * @return (id_a, id_b, s_a, s_b, jw), id_a < id_b, jw rounded to 6
    */
  /** @param requireAscii opt-in loud guard for the pinned key domain:
    *   [[graft.functions.jaro_winkler]] scores UTF-16 code units, so on
    *   non-ASCII keys its values diverge from byte-based engines
    *   (DuckDB) AND the prefix filter's completeness argument — which
    *   reasons in Spark's code-point space — no longer provably covers
    *   astral-plane (surrogate-pair) strings. `true` raise_errors on
    *   the first non-ASCII key instead of silently scoring it
    *   (JaroWinklerSpec pins the divergence as a tested fact).
    * @param maxBlockSize loud equal-(gram, occ) block-width cap — the
    *   [[qgramJoin]] contract verbatim (cloned strings share every
    *   prefix token; aggregate + broadcast raise, [[blockGuarded]]). */
  def jaroWinklerJoin(df: DataFrame, idCol: String, strCol: String,
                      threshold: Double,
                      requireAscii: Boolean = false,
                      maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    require(threshold >= 0.81 && threshold < 1.0,
      s"threshold must be in [0.81, 1.0) — below 0.81 the Jaro bound " +
        s"(θj = (θ-0.4)/0.6) drops to 2/3 where no prefix filter is sound; got $threshold")
    require(maxBlockSize >= 1, s"maxBlockSize must be >= 1, got $maxBlockSize")
    val thetaJ = (threshold - 0.4) / 0.6
    val ratio = 3.0 * thetaJ - 2.0   // admissible-length factor, > 0
    val overlap = 3.0 * thetaJ - 1.0 // shared-character factor, > 1
    val asciiGuard =
      if (!requireAscii) col(strCol)
      else when(col(strCol).rlike("[^\\x00-\\x7F]"), raise_error(concat(
        lit("jaroWinklerJoin(requireAscii=true): non-ASCII key '"),
        col(strCol),
        lit("' — jaro_winkler scores UTF-16 code units and diverges from " +
          "byte-based engines outside ASCII; normalize upstream or drop " +
          "the guard deliberately")))).otherwise(col(strCol))
    val strs = df.select(col(idCol).as("__id"),
      when(col(strCol).isNull, raise_error(lit(
        "jaroWinklerJoin: null string present; jw(null, ·) is null and the " +
          "pair would be silently dropped — filter or fill first")))
        .otherwise(asciiGuard).as("__s"))
      .withColumn("__len", length(col("__s")))
      .filter(col("__len") > 0) // jw(empty, ·) = 0 < θ: exact to drop
      // smallest admissible partner length (floor → sound) and the
      // per-string overlap floor K (ceil with slack → sound)
      .withColumn("__l2min", greatest(lit(1L), floor(col("__len") * ratio)))
      .withColumn("__k", ceil(
        col("__len") * col("__l2min") * overlap /
          (col("__len") + col("__l2min")) - lit(1e-9)).cast("long"))
    TextDedup.withWorkingSet(strs) { s =>
      // String payload rides the token stream deliberately — the
      // proxy-shuffle form was measured and lost here; see qgramJoin.
      val toks = s
        .select(col("__id"), col("__s"), col("__len"), col("__k"),
          explode(sequence(lit(1), col("__len"))).as("__i"))
        .select(col("__id"), col("__s"), col("__len"), col("__k"),
          expr("substring(__s, __i, 1)").as("gram"))
        .groupBy("__id", "__s", "__len", "__k", "gram")
        .agg(count(lit(1)).cast("int").as("__cnt"))
        .select(col("__id"), col("__s"), col("__len"), col("__k"), col("gram"),
          explode(sequence(lit(1), col("__cnt"))).as("occ"))
      TextDedup.withWorkingSet(toks) { tk =>
        val dfreq = tk.groupBy("gram").agg(count_distinct(col("__id")).as("__df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__id").orderBy(col("__df"), col("gram"), col("occ"))
        // Raw prefix materialized once, guard lazy (see qgramJoin).
        TextDedup.withWorkingSet(tk.join(dfreq, "gram")
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= col("__len") - col("__k") + 1)
          .select(col("__id"), col("__s"), col("gram"), col("occ"))) { raw =>
          val prefix = blockGuarded(raw, maxBlockSize, "jaroWinklerJoin")
          val cand = prefix.select(col("__id").as("id_a"), col("__s").as("s_a"),
              col("gram"), col("occ"))
            .join(prefix.select(col("__id").as("id_b"), col("__s").as("s_b"),
              col("gram"), col("occ")), Seq("gram", "occ"))
            .filter(col("id_a") < col("id_b"))
            .select("id_a", "id_b", "s_a", "s_b")
            .distinct()
          cand
            // admissible-length window first (cheap; 1e-9 slack keeps it
            // conservative), then the exact verify decides (jw is still
            // evaluated in the filter and the project: VERDICT.md,
            // "What's wrong" item 2)
            .filter(greatest(length(col("s_a")), length(col("s_b"))) * ratio <=
              least(length(col("s_a")), length(col("s_b"))) + lit(1e-9))
            .withColumn("__jw", graft.functions.jaro_winkler(col("s_a"), col("s_b")))
            .filter(col("__jw") >= threshold)
            .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
              graft.functions.roundFp(col("__jw"), 6).as("jw"))
        }
      }
    }
  }

  /** Sorted-neighborhood CANDIDATE pairs — the blocking stage alone,
    * independent of how pairs are scored: (id_a, id_b, s_a, s_b) for
    * every pair within `window` global sort positions of each other,
    * id_a strictly before id_b in (str, id) order. [[sortedNeighborhood]]
    * scores these with levenshtein; jw-scored variants (fz03) apply
    * their own metric — the blocking cost and the recall bound are
    * identical either way (O(N·window) candidates, sort-local recall).
    */
  def neighborhoodCandidates(df: DataFrame, idCol: String, strCol: String,
                             window: Int = 3): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    // The ranked frame feeds both join sides; materialize it once (the
    // two-phase rank involves a driver offset collect — paying it twice
    // would double the dominant cost).
    TextDedup.withWorkingSet(
      GlobalRank.withGlobalRowNumber(
        df.select(col(idCol), col(strCol)),
        Seq(col(strCol), col(idCol)), outCol = "__rn")) { ranked =>
      val a = ranked.select(
        col(idCol).as("id_a"), col(strCol).as("s_a"), col("__rn").as("__rn_a"),
        explode(array(floor(col("__rn") / window),
          floor(col("__rn") / window) + 1)).as("__g"))
      val b = ranked.select(
        col(idCol).as("id_b"), col(strCol).as("s_b"), col("__rn").as("__rn_b"),
        floor(col("__rn") / window).as("__g"))
      a.join(b, "__g")
        .filter(col("__rn_b") > col("__rn_a") &&
          col("__rn_b") <= col("__rn_a") + window)
        .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"))
    }
  }

  /** @return (id_a, id_b, s_a, s_b, dist) for pairs within `window`
    *         sort positions and edit distance <= maxDistance;
    *         id_a sorts strictly before id_b in (str, id) order */
  def sortedNeighborhood(df: DataFrame, idCol: String, strCol: String,
                         window: Int = 3, maxDistance: Int = 2): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    neighborhoodCandidates(df, idCol, strCol, window)
      // levenshtein is evaluated in both the filter and the project
      // (VERDICT.md, "What's wrong" item 2)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"), col("dist"))
  }
}
