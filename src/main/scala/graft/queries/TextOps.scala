package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables._

/** Training-data text pipeline over the `documents` table: tokenization,
  * quality scoring, language ID, fingerprinting, exact + near dedup
  * (MinHash-LSH, SimHash, n-gram Jaccard), 10-K extraction (the X1/X2
  * contract, built-in regexp form — swapped to the custom Catalyst
  * expression in graft.expr without changing query semantics), HTML→text
  * strip, and multimodal metadata plumbing.
  *
  * Scale notes (100 TB): everything here is a narrow per-row expression
  * chain until the LSH band join, which is an equi-shuffle on
  * (band, band_key) with a bucket-size cap to bound mega-bucket blowup —
  * the standard LSH skew guard.
  */
object TextOps {

  private def tokens: Column = split(col("text"), " ")

  /** documents pre-sorted by doc_id, projected to (doc_id +: cols) — the
    * shared head of the per-row text queries. Heavy per-row expression
    * chains are applied ABOVE this sort instead of below a trailing
    * orderBy (guide §1.4/§2.3): range-partitioning's sample pass
    * re-executes its child subtree, so `heavy.orderBy(id)` evaluated every
    * regex/fold TWICE — and single-threaded, because the sample fed from
    * the single-split scan. Sorting the narrow columns first makes the
    * sample a bare scan and runs the kernel ONCE over the sorted range
    * partitions (a Project above a Sort preserves row order, so the
    * output ordering contract is unchanged). */
  private def docsSorted(s: SparkSession, d: String, cols: String*): DataFrame =
    sortedWide(documents(s, d).select("doc_id", cols: _*), "doc_id")

  // ------------------------------------------------------------ tokenize
  private val tokenCount = Q(
    "token_count",
    """SELECT doc_id,
      |       CAST(len(str_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^ a-z0-9]')) AS BIGINT)
      |         AS re_tokens,
      |       CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docsSorted(s, d, "text").select(
      col("doc_id"),
      size(tokens).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^ a-z0-9]', 0)"))
        .cast("long").as("re_tokens"),
      length(col("text")).cast("long").as("n_chars"))
  }

  // ------------------------------------------------------------- quality
  private val STOPWORDS = Seq("a", "the", "of", "and", "to", "in")

  private def stopCount(toks: Column): Column =
    size(filter(toks, w => w.isInCollection(STOPWORDS)))

  private val textQuality = Q(
    "text_quality",
    s"""SELECT doc_id,
       |       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
       |       round(CAST(len(list_filter(str_split(text, ' '),
       |                w -> w IN (${STOPWORDS.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |             / len(str_split(text, ' ')), 4) AS stop_ratio,
       |       round(CAST(length(text) - len(str_split(text, ' ')) + 1 AS DOUBLE)
       |             / len(str_split(text, ' ')), 4) AS mean_wlen,
       |       round(least(1.0, len(str_split(text, ' ')) / 100.0)
       |             * (1.0 - CAST(len(list_filter(str_split(text, ' '),
       |                  w -> w IN (${STOPWORDS.map("'" + _ + "'").mkString(",")}))) AS DOUBLE)
       |                      / len(str_split(text, ' '))), 4) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nTok  = size(tokens)
    val nStop = stopCount(tokens)
    val stopRatio = nStop.cast("double") / nTok
    docsSorted(s, d, "text").select(
      col("doc_id"),
      nTok.cast("long").as("n_tokens"),
      round(stopRatio, 4).as("stop_ratio"),
      round((length(col("text")) - nTok + 1).cast("double") / nTok, 4).as("mean_wlen"),
      round(least(lit(1.0), nTok / 100.0) * (lit(1.0) - stopRatio), 4).as("quality"))
  }

  // ------------------------------------------------------------- lang ID
  /** N-gram-heuristic language ID: marker-token counts per language with a
    * deterministic argmax tiebreak (en ≥ es ≥ de). Counts are exact ints,
    * so the oracle compare is bit-stable. */
  private val MARKERS = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "es" -> Seq("el", "la", "de", "que"),
    "de" -> Seq("der", "die", "und", "ist"))

  private val textLangId = Q(
    "text_lang_id", {
      val cnt = MARKERS.map { case (l, ws) =>
        s"CAST(len(list_filter(str_split(text, ' '), w -> w IN (${ws.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS s_$l"
      }.mkString(",\n       ")
      s"""SELECT doc_id, lang, s_en, s_es, s_de,
         |       CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
         |            WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
         |FROM (SELECT doc_id, lang, $cnt FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    val scored = MARKERS.foldLeft(docsSorted(s, d, "lang", "text")) { case (df, (l, ws)) =>
      df.withColumn(s"s_$l",
        size(filter(tokens, w => w.isInCollection(ws))).cast("long"))
    }
    scored.select(
      col("doc_id"), col("lang"), col("s_en"), col("s_es"), col("s_de"),
      when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
        .when(col("s_es") >= col("s_de"), "es")
        .otherwise("de").as("pred_lang"))
  }

  // --------------------------------------------------------- fingerprint
  /** Rolling document fingerprint: fold token xxhash64s with rotate-xor —
    * bitwise-only, so it can never hit ANSI overflow, and it is
    * order-sensitive (a permuted document fingerprints differently).
    * Engine-specific hash → rows-only check. */
  private val textFingerprint = Q.noOracle("text_fingerprint") { (s, d) =>
    docsSorted(s, d, "text").select(
      col("doc_id"),
      aggregate(
        transform(tokens, w => xxhash64(w)),
        lit(0L),
        (acc, h) => (shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59)))
          .bitwiseXOR(h)).as("fingerprint"))
  }

  /** Cross-engine FINGERPRINT PARITY twin of text_fingerprint — the same
    * trick as minhash_signature: md5 is the hash both engines compute
    * identically, so an md5-chained fold (acc' = md5(acc ++ ":" ++ token),
    * acc0 = "") pins the fingerprint MACHINERY (tokenize, ordered
    * left-to-right fold, per-step mixing) against DuckDB exactly. It is
    * order-sensitive like the production rotate-xor fingerprint; only the
    * mixing hash differs (production keeps the cheaper xxhash64). */
  private val fingerprintSignature = Q(
    "fingerprint_signature",
    """SELECT doc_id,
      |       list_reduce(list_prepend('', str_split(text, ' ')),
      |                   (acc, t) -> md5(acc || ':' || t)) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docsSorted(s, d, "text").select(
      col("doc_id"),
      aggregate(tokens, lit(""),
        (acc, t) => md5(concat(acc, lit(":"), t))).as("fingerprint"))
  }

  // --------------------------------------------------- repetition signals
  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    * distinct-token ratio, top-token fraction, top-bigram fraction. A
    * high-repetition document (boilerplate, keyword stuffing, scraper
    * loops) scores low distinct_ratio / high top fractions and gets
    * filtered before training. Computed via explode + two hash
    * aggregations (LINEAR in document length — never the per-row
    * quadratic count-each-distinct-token form), so the same plan holds on
    * billion-document corpora: narrow explode, groupBy(doc_id, gram),
    * groupBy(doc_id), one broadcast-sized join back. All counts are exact
    * integers; ratios round(…,4) on both engines. */
  private val textRepetition = Q(
    "text_repetition",
    """WITH toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
      |ua AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |              CAST(count(*) AS BIGINT) AS n_distinct,
      |              CAST(max(c) AS BIGINT) AS top_tok FROM tc GROUP BY 1),
      |bgs AS (SELECT doc_id,
      |               unnest(list_transform(range(1, len(str_split(text, ' '))),
      |                 i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1])) AS bg
      |        FROM documents),
      |bc AS (SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2),
      |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
      |              CAST(max(c) AS BIGINT) AS top_bg FROM bc GROUP BY 1)
      |SELECT ua.doc_id, n_tokens, n_distinct,
      |       round(CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS distinct_ratio,
      |       round(CAST(top_tok AS DOUBLE) / n_tokens, 4) AS top_token_frac,
      |       COALESCE(n_bigrams, 0) AS n_bigrams,
      |       COALESCE(round(CAST(top_bg AS DOUBLE) / n_bigrams, 4), 0.0) AS top_bigram_frac
      |FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
      |ORDER BY ua.doc_id""".stripMargin) { (s, d) =>
    // fanOut: the explode + partial hash aggs otherwise run fused onto the
    // single-split scan task (guide §2.2 — CPU-dense stage, one core)
    val base = fanOut(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens.as("t"))
    // sequence(1, 0) in Spark DESCENDS ([1,0]) instead of returning empty
    // like DuckDB range(1,1) — single-token docs must guard explicitly
    val bigrams = when(size(col("t")) > 1,
      transform(sequence(lit(1), size(col("t")) - 1),
        i => concat(element_at(col("t"), i), lit(" "), element_at(col("t"), i + 1))))
      .otherwise(array().cast("array<string>"))
    // ONE kind-tagged explode + one aggregation chain (r6): the separate
    // unigram and bigram explode→agg→agg chains plus their join shuffled
    // the same rows through two parallel pipelines; tagging each gram
    // with kind∈{0=token,1=bigram} folds both into a single
    // groupBy(doc_id, kind, gram) → groupBy(doc_id) pass with
    // conditional aggregates — same counts, half the stage waves, no
    // join. (n_bigrams/top_bg stay NULL→coalesce for single-token docs,
    // exactly like the old left join.)
    val tagged = concat(
      transform(col("t"), w => struct(lit(0).as("kind"), w.as("g"))),
      transform(bigrams, b => struct(lit(1).as("kind"), b.as("g"))))
    base.select(col("doc_id"), explode(tagged).as("kg"))
      .select(col("doc_id"), col("kg.kind").as("kind"), col("kg.g").as("g"))
      .groupBy("doc_id", "kind", "g").count()
      .groupBy("doc_id").agg(
        sum(when(col("kind") === 0, col("count"))).as("n_tokens"),
        sum(when(col("kind") === 0, 1L)).as("n_distinct"),
        max(when(col("kind") === 0, col("count"))).as("top_tok"),
        sum(when(col("kind") === 1, col("count"))).as("n_bigrams"),
        max(when(col("kind") === 1, col("count"))).as("top_bg"))
      .select(
        col("doc_id"),
        col("n_tokens"), col("n_distinct"),
        round(col("n_distinct").cast("double") / col("n_tokens"), 4).as("distinct_ratio"),
        round(col("top_tok").cast("double") / col("n_tokens"), 4).as("top_token_frac"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("top_bg").cast("double") / col("n_bigrams"), 4), lit(0.0))
          .as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- deterministic hash sample
  /** Hash-based deterministic sampling — the scale-safe substitute for
    * reservoir/random sampling in a training-data pipeline: membership is
    * a pure function of the key, so the sample is reproducible across
    * runs, engines, and partitionings, needs no state, and pushes down as
    * a narrow filter. Rate = 3/16 via the first hex digit of a
    * namespaced md5 (both engines compute md5 of identical bytes
    * identically — the minhash_signature trick). */
  private val sampleHash = Q(
    "sample_hash",
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d)
      .filter(substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 1)
        .isin("0", "1", "2"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- PII redaction
  /** PII redaction — the standard pre-training scrub (C4 strips bad-word
    * pages; Dolma/RefinedWeb-style pipelines replace emails / phone
    * numbers / IP addresses with sentinel tokens). The corpus text is
    * digit-free word soup, so the query WEAVES deterministic PII into each
    * document from doc_id (the generation-formula oracle pattern of
    * `multimodal_decode_img`: both engines derive the identical dirty text
    * from doc_id via md5/lpad, then both must redact it identically),
    * counts each PII class on the dirty text, and emits the fully
    * redacted text. Redaction order is email → IP → phone so the IP rule
    * never fires inside an un-redacted email domain. Patterns use only
    * class/bound/anchor constructs with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB) — no backreferences or lookaround.
    *
    * Scale shape: narrow per-row expression chain, whole-stage codegen,
    * nothing shuffles until the final presentation sort. */
  private val PII_EMAIL = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
  private val PII_IP    = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  private val PII_PHONE = """\b\d{3}-\d{4}\b"""

  private val textPiiRedact = Q(
    "text_pii_redact",
    s"""WITH dirty AS (
       |  SELECT doc_id,
       |         'contact ' || substr(md5('pii:' || CAST(doc_id AS VARCHAR)), 1, 8)
       |         || '@mail-' || CAST(doc_id % 97 AS VARCHAR) || '.com call 555-'
       |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.'
       |         || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
       |         || ' ' || text AS t
       |  FROM documents)
       |SELECT doc_id,
       |       CAST(len(regexp_extract_all(t, '$PII_EMAIL')) AS BIGINT) AS n_email,
       |       CAST(len(regexp_extract_all(t, '$PII_PHONE')) AS BIGINT) AS n_phone,
       |       CAST(len(regexp_extract_all(t, '$PII_IP')) AS BIGINT) AS n_ip,
       |       regexp_replace(regexp_replace(regexp_replace(t,
       |         '$PII_EMAIL', '<EMAIL>', 'g'),
       |         '$PII_IP', '<IP>', 'g'),
       |         '$PII_PHONE', '<PHONE>', 'g') AS redacted
       |FROM dirty ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dirty = concat(
      lit("contact "),
      substring(md5(concat(lit("pii:"), col("doc_id").cast("string"))), 1, 8),
      lit("@mail-"), (col("doc_id") % 97).cast("string"), lit(".com call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" from 10."),
      (col("doc_id") % 256).cast("string"), lit(".0."),
      ((col("doc_id") * 7) % 256).cast("string"),
      lit(" "), col("text"))
    docsSorted(s, d, "text").select(col("doc_id"), dirty.as("t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit(PII_EMAIL), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all(col("t"), lit(PII_PHONE), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all(col("t"), lit(PII_IP), lit(0))).cast("long").as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), PII_EMAIL, "<EMAIL>"),
            PII_IP, "<IP>"),
          PII_PHONE, "<PHONE>").as("redacted"))
  }

  // -------------------------------------------------------- decontamination
  /** Train/eval DECONTAMINATION (Brown et al. 2020, appendix C; standard
    * in every serious pre-training pipeline): flag training documents
    * sharing any length-N token n-gram with a held-out evaluation set, so
    * benchmark text can be removed from the training corpus. Here the
    * eval set is the deterministic slice doc_id % 20 == 0 (GPT-3 uses
    * 13-grams; N = 8 fits the synthetic corpus's near-dup run lengths so
    * the fixture exercises real hits). Output: each contaminated training
    * doc with its count of distinct overlapping grams.
    *
    * Scale shape: the eval side is tiny by construction (a benchmark, not
    * a corpus) — its distinct grams BROADCAST; the training side is one
    * narrow (doc_id, gram) explode probed map-side, then one hash agg per
    * contaminated doc. No shuffle touches the full corpus width, the same
    * plan at 10^9 docs. At a truly huge eval set the broadcast degrades
    * to an equi-join on the gram — the code path is the same join. */
  private val DECON_N = 8
  private val DECON_EVAL_MOD = 20

  private val decontaminate = Q(
    "decontaminate",
    s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
       |grams AS (SELECT doc_id, list_aggregate(tk[i:i+${DECON_N - 1}], 'string_agg', ' ') AS g
       |          FROM toks, UNNEST(range(1, len(tk) - ${DECON_N - 2})) AS t(i)),
       |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % $DECON_EVAL_MOD = 0)
       |SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_overlap
       |FROM grams g JOIN ev ON g.g = ev.g
       |WHERE g.doc_id % $DECON_EVAL_MOD <> 0
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, d) =>
    val tk = tokens
    // sequence(1, 0) DESCENDS in Spark (vs DuckDB range(1,1) = empty):
    // short docs need the explicit guard, as in text_repetition
    val grams = when(size(tk) >= DECON_N,
        transform(sequence(lit(1), size(tk) - (DECON_N - 1)),
          i => concat_ws(" ", slice(tk, i, lit(DECON_N)))))
      .otherwise(array().cast("array<string>"))
    // fanOut: the n-gram explode is the expensive stage (per-token slice +
    // concat) and otherwise fuses onto the single-split scan task
    val g = fanOut(documents(s, d).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(grams).as("g"))
    val ev = g.filter(col("doc_id") % DECON_EVAL_MOD === 0).select("g").distinct()
    g.filter(col("doc_id") % DECON_EVAL_MOD =!= 0)
      .join(broadcast(ev), Seq("g"))
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n_overlap"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- dedup
  private val dedupExact = Q(
    "dedup_exact",
    """SELECT CAST(min(doc_id) AS BIGINT) AS keeper, count(*) AS n_copies, text
      |FROM documents GROUP BY text ORDER BY keeper""".stripMargin) { (s, d) =>
    documents(s, d).groupBy("text").agg(
      min("doc_id").cast("long").as("keeper"),
      count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies", "text")
      .orderBy("keeper")
  }

  /** C4-style GLOBAL segment-level dedup (Raffel et al. 2020 §2.2 do it
    * on three-sentence spans; the word-soup corpus has no sentence marks,
    * so the span unit is a fixed 10-token window): split every document
    * into consecutive 10-token segments, keep each distinct segment's
    * globally FIRST occurrence (min (doc_id, pos) — deterministic), drop
    * every later copy, and re-assemble the surviving segments in document
    * order. Output per document: segment counts + the cleaned text.
    *
    * Scale shape: posexplode (narrow) → ONE hash aggregation
    * `groupBy(segment).agg(min(struct(doc_id, pos)))` — the keeper IS the
    * group row, so no join-back and no per-group sort (beats the
    * row_number window form, which sorts every segment partition) → one
    * groupBy(doc_id) re-assembly. Two exchanges total, both on keys that
    * hash-distribute evenly (segments, doc ids) — the plan a
    * trillion-segment corpus needs. The oracle states the same semantics
    * in the clearer row_number form. */
  private val dedupParagraph = Q(
    "dedup_paragraph",
    """WITH l AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
      |segs AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |                list_aggregate(toks[(i-1)*10+1:i*10], 'string_agg', ' ') AS seg
      |         FROM l, UNNEST(range(1, CAST(ceil(len(toks) / 10.0) AS BIGINT) + 1)) AS t(i)),
      |kept AS (SELECT doc_id, pos, seg,
      |                row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      |         FROM segs),
      |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs FROM segs GROUP BY 1),
      |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |              string_agg(seg, ' ' ORDER BY pos) AS clean_text
      |       FROM kept WHERE rn = 1 GROUP BY 1)
      |SELECT ns.doc_id, ns.n_segs,
      |       COALESCE(ka.n_kept, 0) AS n_kept,
      |       COALESCE(ka.clean_text, '') AS clean_text
      |FROM ns LEFT JOIN ka ON ns.doc_id = ka.doc_id
      |ORDER BY ns.doc_id""".stripMargin) { (s, d) =>
    val segLen = 10
    val t = tokens
    val segArr = transform(
      sequence(lit(1L), ceil(size(t) / lit(10.0)).cast("long")),
      i => concat_ws(" ", slice(t, ((i - 1) * segLen + 1).cast("int"), lit(segLen))))
    // A NULL text has no tokens and so no segments: the oracle's UNNEST
    // drops the doc. Spark's size(NULL) is -1, whose sequence would emit
    // segments (and take the keeper of the "" segment from a real
    // empty-text doc).
    val docs = documents(s, d).select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
    val segs = fanOut(docs)
      .select(col("doc_id"), posexplode(segArr).as(Seq("pos0", "seg")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("seg"))
    val keepers = segs.groupBy("seg")
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"), col("seg"))
    // n_segs in closed form (r6): the explode emits exactly
    // ceil(n_tokens/10) rows per doc (split("") is [""], so n_tokens ≥ 1
    // and every doc has ≥ 1 segment) — counting them re-ran the whole
    // posexplode through a second agg chain for a value the row already
    // determines.
    val ns = docs.select(col("doc_id"),
      ceil(size(tokens) / lit(10.0)).cast("long").as("n_segs"))
    val ka = keepers.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws(" ", transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
        x => x.getField("seg"))).as("clean_text"))
    ns.join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Word 3-shingles of a document, with ANSI-safe bounds. */
  private def shingles(toks: Column): Column =
    filter(
      transform(sequence(lit(1), greatest(size(toks) - 2, lit(1))),
        i => when(size(toks) >= 3,
          concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
            element_at(toks, i + 2)))),
      s => s.isNotNull)

  /** Exact n-gram Jaccard near-dup pairs (J ≥ τ), GLOBAL — no blocking
    * columns needed. Candidate generation is a prefix-filtered inverted
    * index (Bayardo et al., WWW'07 all-pairs): order each document's
    * shingles by ascending global document frequency (rarest first — a
    * global total order), index only the first |g| − ⌈τ·|g|⌉ + 1 of them,
    * and self-join the index on shingle. Any pair with J ≥ τ must share a
    * prefix shingle (prefix-filter lemma), so there are NO false negatives;
    * the exact Jaccard is then verified on the deduped candidates only.
    *
    * Scale shape: the join key is a RARE shingle by construction (frequent
    * shingles sort to the suffix and are never indexed), so posting lists
    * stay short and the pair count tracks the true near-dup count instead
    * of the corpus block size — this is what replaces round 1's
    * quadratic-within-block join. The oracle is the brute-force all-pairs
    * computation with the same threshold. */
  private val JACCARD_TAU = 0.5

  /** The hashed-shingle relation (doc_id, grams) — memoized; the exact
    * index, the md5 signature, the minhash audit, and the pair
    * verification all read it. Resolved OUTSIDE other builders (nested
    * SessionCache.df calls are the Recursive-update footgun the cache's
    * scaladoc describes). */
  private def gramsTable(s: SparkSession, d: String): DataFrame =
    SessionCache.df(s, s"jaccard_grams:$d") {
      // fanOut: parallelizes the shingle-hash build AND leaves the
      // memoized relation with `defaultParallelism` partitions, so
      // every downstream join/explode over it starts wide instead of
      // inheriting the single-split scan's one partition
      fanOut(documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          graft.expr.Shingles.word_shingles64(col("text")).as("grams"))
        .filter(size(col("grams")) > 0)
    }

  /** Exact near-dup pairs (J ≥ tau) via the prefix-filtered inverted
    * index — the body of dedup_ngram_jaccard, memoized per (dir, tau):
    * consumed by that query AND as the exact ground truth of the minhash
    * audit (dedup_minhash_audit), so the expensive index build runs once
    * per session. Returns (id_a, id_b, jaccard), unrounded. */
  def ngramJaccardPairs(s: SparkSession, d: String,
                        tau: Double = JACCARD_TAU): DataFrame = {
    val sh = gramsTable(s, d) // resolve BEFORE entering the pairs builder
    SessionCache.df(s, s"jaccard_pairs:$tau:$d") {
      import org.apache.spark.sql.expressions.Window
      val exploded = sh.select(
        col("doc_id"), size(col("grams")).as("n"), explode(col("grams")).as("gram"))
      // The two-window prefix build is KEPT deliberately: a measured
      // hash-agg rewrite (df via groupBy + shuffled-hash join, prefix via
      // collect_list/array_sort/slice) matched it stage-for-stage but was
      // ~8x slower END-TO-END, because the self-join below references
      // `prefix` twice and only the window plan's final exchange is
      // REUSED across both sides (the agg plan re-executed its whole
      // subtree per side, and its internal exploded⋈dfCounts join doubled
      // it again). Exchange reuse beats sort elimination here.
      val withDf = exploded.withColumn("df",
        count(lit(1)).over(Window.partitionBy("gram")))
      val prefix = withDf
        .withColumn("pos", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))))
        .filter(col("pos") <= col("n") - ceil(col("n") * tau).cast("int") + 1)
        .select("doc_id", "n", "gram")
      // No SHUFFLE_HASH hint on the self-join: measured cold (the regime
      // the bench runs), the hinted SHJ was ~1.4 s SLOWER than the
      // sort-merge form — the two identical prefix sides share a
      // ReusedExchange and their sorted runs make SMJ cheap, while SHJ
      // pays a per-partition hash build of the full prefix relation.
      val cand = prefix.select(col("doc_id").as("id_a"), col("n").as("n_a"), col("gram"))
        .join(prefix.select(col("doc_id").as("id_b"), col("n").as("n_b"), col("gram")),
          Seq("gram"))
        .filter(col("id_a") < col("id_b") &&
          col("n_b") >= col("n_a") * tau && col("n_a") >= col("n_b") * tau)
        .select("id_a", "id_b").distinct()
      val inter = size(array_intersect(col("grams_a"), col("grams_b"))).cast("double")
      cand
        .join(sh.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
        .withColumn("jaccard",
          inter / (size(col("grams_a")) + size(col("grams_b")) - inter))
        .filter(col("jaccard") >= tau)
        .select("id_a", "id_b", "jaccard")
    }
  }

  private val dedupNgramJaccard = Q(
    "dedup_ngram_jaccard",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |           list_transform(range(1, len(str_split(text, ' ')) - 1),
      |             i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
      |                  || ' ' || str_split(text, ' ')[i+2])
      |           ELSE [] END) AS grams
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE) AS inter,
      |         CAST(len(a.grams) + len(b.grams) AS DOUBLE) AS tot
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(a.grams) > 0 AND len(b.grams) > 0)
      |SELECT id_a, id_b, round(inter / (tot - inter), 4) AS jaccard
      |FROM p WHERE inter / (tot - inter) >= $JACCARD_TAU
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    // Shingles live as their 64-bit hashes from the first pass (the
    // word_shingles64 codegen expression — see graft.expr.Shingles for why
    // the composable form is quadratic): every downstream step (inverted
    // index key, window partitioning, exact set intersection) runs on
    // fixed-width longs instead of ~25-byte strings. Same Jaccard (a
    // distinct-set measure; a 64-bit collision INSIDE one pair would be
    // needed to move it, P ≈ |grams|²/2^64), pinned equal to the
    // string-space brute force by NgramJaccardSpec. Pair generation is
    // memoized (ngramJaccardPairs) — the minhash audit reuses it as the
    // exact ground truth.
    ngramJaccardPairs(s, d, JACCARD_TAU)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** D7 — dedup CLUSTER formation: near-dup detection emits PAIRS, but a
    * pipeline drops duplicates by CLUSTER (keep one representative per
    * connected component of the pair graph — a doc similar to A and B
    * must not survive because A and B were compared separately). Spark
    * side: distributed min-label propagation to convergence (the
    * GraphX-Pregel connected-components kernel): per sweep ONE narrow
    * equi-shuffle of the symmetric edge list against (id, label) and one
    * min-aggregate; converges in component-diameter sweeps (near-dup
    * clusters are shallow; the billion-node path swaps in large-star/
    * small-star contraction, same join shape). Labels localCheckpoint
    * per sweep — the loop's plan stays O(1). Oracle: the same exact
    * pairs, closed transitively by a recursive CTE (oracle-scale tool,
    * like the audit ground truths). Output: every document with its
    * cluster id (min doc_id of its component) and the keeper flag. */
  private val dedupClusters = Q(
    "dedup_clusters",
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |           list_transform(range(1, len(str_split(text, ' ')) - 1),
      |             i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
      |                  || ' ' || str_split(text, ' ')[i+2])
      |           ELSE [] END) AS grams
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         CAST(len(list_filter(a.grams, g -> list_contains(b.grams, g))) AS DOUBLE) AS inter,
      |         CAST(len(a.grams) + len(b.grams) AS DOUBLE) AS tot
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE len(a.grams) > 0 AND len(b.grams) > 0),
      |pr AS (SELECT id_a, id_b FROM p WHERE inter / (tot - inter) >= $JACCARD_TAU),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pr UNION ALL SELECT id_b, id_a FROM pr),
      |reach AS (
      |  SELECT doc_id AS node, doc_id AS r FROM documents
      |  UNION
      |  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
      |)
      |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster, min(r) = node AS is_keeper
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = ngramJaccardPairs(s, d, JACCARD_TAU).select(col("id_a"), col("id_b"))
    val sym = pairs.union(pairs.select(col("id_b"), col("id_a"))).toDF("src", "dst")
      .persist()
    var labels = documents(s, d)
      .select(col("doc_id"), col("doc_id").as("cluster")).localCheckpoint(true)
    var converged = false
    var sweeps = 0
    while (!converged) {
      // one-hop propagation needs diameter sweeps; near-dup components are
      // shallow by nature, so an unconverged deep chain signals the wrong
      // kernel for the data — fail loud and name the scale path rather
      // than spin the driver loop
      sweeps += 1
      require(sweeps <= 64,
        "dedup_clusters: component diameter exceeds 64 sweeps — switch to " +
          "large-star/small-star contraction for deep-chain graphs")
      val nbrMin = sym
        .join(labels.select(col("doc_id").as("src"), col("cluster").as("nc")), "src")
        .groupBy(col("dst").as("doc_id")).agg(min("nc").as("nbrMin"))
      // carry (new, old) in ONE checkpointed frame: the convergence probe
      // reads `changed` off it directly instead of re-joining next⋈labels —
      // one join per sweep, not two (each sweep is a synchronous job wave)
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nbrMin"), col("cluster"))).as("cluster"),
          col("cluster").as("old"))
        .localCheckpoint(true)
      converged = next.filter(col("cluster") =!= col("old")).isEmpty
      labels.unpersist() // cosmetic for checkpoints; blocks are GC-reclaimed
      labels = next.select(col("doc_id"), col("cluster"))
    }
    sym.unpersist()
    labels.select(col("doc_id"), col("cluster"),
      (col("doc_id") === col("cluster")).as("is_keeper"))
      .orderBy("doc_id")
  }

  // MinHash/SimHash/LSH tunables live in graft.queries.{MinHashParams,
  // SimHashParams} (library arguments with the registry-bound defaults).

  /** One aggregate pass computing all K minhashes together. The naive form
    * (K independent array_min(transform(...)) expressions) references the
    * shingle-array expression K times, and CollapseProject inlines the
    * whole shingle generation into each — 16× the work. Folding a K-long
    * accumulator keeps exactly one reference. */
  private def minhashSig(sh: Column, p: MinHashParams): Column =
    aggregate(sh,
      array_repeat(lit(Long.MaxValue), p.k),
      (acc, g) => zip_with(acc,
        array((0 until p.k).map(k => xxhash64(g, lit(k))): _*),
        (a, b) => least(a, b)))

  /** LSH skew guard: keep only bucket members of buckets with ≤ cap rows.
    * groupBy-count + left-semi join, NOT a window count — the window
    * shuffles AND sorts the full wide rows (signatures included) per
    * bucket, while the aggregate side here is two narrow columns and the
    * semi join carries no payload. */
  private def capBuckets(banded: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    banded.join(
      banded.select(keyCols.map(col): _*)
        .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("bucket_n"))
        .filter(col("bucket_n") <= cap).drop("bucket_n"),
      keyCols, "left_semi")

  /** MinHash + LSH reported pairs — the body of dedup_minhash, factored so
    * the precision/recall audit measures the same pipeline. Scope note:
    * this is the PRE-PRESENTATION pair set — dedup_minhash additionally
    * applies a deterministic ORDER BY + LIMIT 1000 for display, so above
    * 1000 pairs the audit describes the pipeline, not the truncated
    * listing. NearDupAuditSpec asserts the audit fixture stays under the
    * limit, where the two coincide exactly. */
  def minhashPairs(s: SparkSession, d: String,
                   p: MinHashParams = MinHashParams()): DataFrame = {
    // The narrow (doc_id, sig) table is consumed twice downstream (cap
    // count + pair join); memoized per session (SessionCache) so the
    // shingle+hash pass — the expensive part — runs once and repeat
    // invocations reuse it. Tiny: one row per doc, K longs each.
    // Shingles come pre-hashed from word_shingles64; the K-seeded minhash
    // family re-hashes the longs (an equally valid MinHash family, and
    // seeded long-hashing is far cheaper than seeded string-hashing).
    val sig = SessionCache.df(s, s"minhash_sig:${p.k}:$d") {
      // fanOut: the K-way min-fold is the pipeline's hot kernel and
      // otherwise runs fused onto the single-split scan task
      fanOut(documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          graft.expr.Shingles.word_shingles64(col("text")).as("grams"))
        .filter(size(col("grams")) > 0)
        .select(col("doc_id"), minhashSig(col("grams"), p).as("sig"))
    }
    // The REPORTED pair set is memoized too (sig resolved above, outside
    // this builder — the SessionCache nesting rule): dedup_minhash builds
    // it once and dedup_minhash_audit's three counting branches (reported /
    // recalled / precise) reuse ONE materialized copy instead of re-running
    // the band self-join per branch.
    SessionCache.df(s,
      s"minhash_pairs:${p.k}:${p.bands}:${p.bucketCap}:${p.estTau}:$d") {
      val banded = sig.select(
        col("doc_id"), col("sig"),
        posexplode(array((0 until p.bands).map { b =>
          xxhash64(concat_ws(",",
            slice(col("sig"), b * p.rowsPerBand + 1, p.rowsPerBand)), lit(b))
        }: _*)).as(Seq("band", "band_key")))
      // LSH skew guard: drop buckets larger than bucketCap before pairing.
      val bucketed = capBuckets(banded, Seq("band", "band_key"), p.bucketCap)
      val l = bucketed.select(col("band"), col("band_key"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val r = bucketed.select(col("band").as("band_r"), col("band_key").as("key_r"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"))
      l.join(r, col("band") === col("band_r") && col("band_key") === col("key_r")
          && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
            b => b)).cast("double") / p.k).as("est_jaccard"))
        .distinct()
        .filter(col("est_jaccard") >= p.estTau)
    }
  }

  /** MinHash + LSH near-dup candidates: shingle → K minhashes → band keys →
    * equi-join on (band, key) → estimated Jaccard from signature agreement.
    * Engine-specific hashing → rows-only check; the banding math is pinned
    * by dedup_minhash_audit + NearDupAuditSpec. */
  private val dedupMinhash = Q.noOracle("dedup_minhash") { (s, d) =>
    minhashPairs(s, d).orderBy("id_a", "id_b").limit(1000)
  }

  /** Precision/recall audit of the MinHash-LSH pipeline against EXACT
    * ground truth (same rigor as the ANN recall audits): recall = fraction
    * of true J ≥ τ pairs (from the prefix-filtered exact index — proven ≡
    * brute force by NgramJaccardSpec) that dedup_minhash reports;
    * precision = fraction of reported pairs whose EXACT Jaccard clears the
    * query's own 0.25 estimate threshold (computed per candidate pair —
    * never all-pairs). Audits the pre-presentation pipeline (see
    * [[minhashPairs]]'s scope note — identical to the query's output while
    * reported pairs ≤ its LIMIT 1000, which the spec asserts for the
    * fixture). Deterministic counts; floors pinned in NearDupAuditSpec. */
  def minhashAudit(s: SparkSession, d: String,
                   p: MinHashParams = MinHashParams(),
                   tau: Double = JACCARD_TAU): DataFrame = {
    val truth = ngramJaccardPairs(s, d, tau).select("id_a", "id_b")
    val reported = minhashPairs(s, d, p).select("id_a", "id_b")
    val sh = gramsTable(s, d)
    val inter = size(array_intersect(col("grams_a"), col("grams_b"))).cast("double")
    val exactOfReported = reported
      .join(sh.select(col("doc_id").as("id_a"), col("grams").as("grams_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("grams").as("grams_b")), Seq("id_b"))
      .withColumn("true_j",
        inter / (size(col("grams_a")) + size(col("grams_b")) - inter))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val nRep = reported.agg(count(lit(1)).as("n_reported"))
    val nRec = truth.join(reported, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_recalled"))
    val nPrec = exactOfReported.filter(col("true_j") >= p.estTau)
      .agg(count(lit(1)).as("n_precise"))
    nTrue.crossJoin(nRep).crossJoin(nRec).crossJoin(nPrec)
      .select(col("n_true"), col("n_reported"), col("n_recalled"), col("n_precise"),
        round(col("n_recalled") / col("n_true"), 4).as("recall"),
        round(col("n_precise") / col("n_reported"), 4).as("precision"))
  }

  private val dedupMinhashAudit =
    Q.noOracle("dedup_minhash_audit")(minhashAudit(_, _))

  /** Cross-engine MinHash SIGNATURE PARITY: md5 is the one hash both
    * engines compute identically on the same bytes, so an md5-seeded
    * minhash family (component k = min over shingles of md5("k:" ++ g),
    * lexicographic min on the hex — binary collation in both engines) is
    * fully oracle-checkable. This pins the minhash MACHINERY (shingling,
    * seeding, min-fold) against DuckDB exactly; the production pipeline
    * (dedup_minhash) keeps the cheaper xxhash64 family. */
  private val MD5_SEEDS = 4

  private val minhashSignature = Q(
    "minhash_signature", {
      val sigCols = (0 until MD5_SEEDS).map { k =>
        s"list_min(list_transform(grams, g -> md5('$k:' || g))) AS sig_$k"
      }.mkString(",\n      |       ")
      s"""WITH sh AS (
      |  SELECT doc_id,
      |         list_distinct(CASE WHEN len(str_split(text, ' ')) >= 3 THEN
      |           list_transform(range(1, len(str_split(text, ' ')) - 1),
      |             i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
      |                  || ' ' || str_split(text, ' ')[i+2])
      |           ELSE [] END) AS grams
      |  FROM documents)
      |SELECT doc_id, $sigCols
      |FROM sh WHERE len(grams) > 0 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    // Shingles materialized ONCE as a column (the old filter + fold pair
    // referenced the word_shingles expression twice per row), computed on
    // the fanned-out scan; the md5 min-fold — the expensive part — runs
    // ABOVE the sort so the range-sample pass never executes it (see
    // docsSorted).
    // One K-way fold pass (single grams reference — see minhashSig note).
    // '~' (0x7E) sorts above every md5 hex char, so it is the fold identity.
    val sigs = aggregate(
      col("grams"),
      array_repeat(lit("~"), MD5_SEEDS),
      (acc, g) => zip_with(acc,
        array((0 until MD5_SEEDS).map(k => md5(concat(lit(s"$k:"), g))): _*),
        (a, b) => least(a, b)))
    sortedWide(
      fanOut(documents(s, d).select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          graft.expr.Shingles.word_shingles(col("text")).as("grams"))
        .filter(size(col("grams")) > 0),
      "doc_id")
      .withColumn("sigs", sigs)
      .select(col("doc_id") +:
        (0 until MD5_SEEDS).map(k => element_at(col("sigs"), k + 1).as(s"sig_$k")): _*)
  }

  /** The (doc_id, simhash) relation — memoized: consumed by the query's
    * band join and by the audit's brute-force ground truth. */
  private def simhashTable(s: SparkSession, d: String): DataFrame =
    SessionCache.df(s, s"simhash:$d") {
      // NO fanOut here (measured): the simhash64 build is ~0.3 s of
      // single-core work, but a 32-partition memoized relation multiplies
      // task waves in every tiny downstream stage of dedup_simhash
      // (banding, cap, self-join, top-k) for a net LOSS; the audit's n²
      // BNLJ — the one consumer that needs width — fans out its stream
      // side explicitly instead.
      documents(s, d)
        .select(col("doc_id"),
          graft.expr.SimHash64.simhash64(col("text")).as("simhash"))
    }

  /** SimHash banded reported pairs (before presentation order/limit).
    * `memo = true` materializes the pair set in the SessionCache — for
    * consumers that read it more than once (the audit's counting
    * branches). The single-pass consumer (dedup_simhash) keeps
    * `memo = false`: it reads the pairs exactly once, and paying the
    * cache materialization there only moves the audit's cost onto the
    * producer query. */
  def simhashPairs(s: SparkSession, d: String,
                   p: SimHashParams = SimHashParams(),
                   memo: Boolean = true): DataFrame = {
    val sh = simhashTable(s, d) // resolved outside (SessionCache nesting rule)
    def build: DataFrame = {
      val bandMask = if (p.bandBits == 64) -1L else (1L << p.bandBits) - 1L
      val banded = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until p.bands).map { b =>
          shiftrightunsigned(col("simhash"), b * p.bandBits).bitwiseAND(lit(bandMask))
        }: _*)).as(Seq("band", "chunk")))
      val capped = capBuckets(banded, Seq("band", "chunk"), p.bucketCap)
      val l = capped.select(col("band"), col("chunk"),
        col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      val r = capped.select(col("band").as("band_r"), col("chunk").as("chunk_r"),
        col("doc_id").as("id_b"), col("simhash").as("sh_b"))
      l.join(r, col("band") === col("band_r") && col("chunk") === col("chunk_r")
          && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= p.maxHamming)
    }
    if (memo)
      SessionCache.df(s,
        s"simhash_pairs:${p.bands}:${p.maxHamming}:${p.bucketCap}:$d")(build)
    else build
  }

  /** 64-bit SimHash from token hashes (majority vote per bit), banded into
    * 4×16-bit chunks for candidate generation (pigeonhole-complete for
    * hamming ≤ 3), verified with bit_count(XOR). Bitwise-only arithmetic
    * (ANSI-safe). The bit loop needs column-valued shift amounts, which the
    * Scala functions API doesn't expose → SQL higher-order expression. */
  private val dedupSimhash = Q.noOracle("dedup_simhash") { (s, d) =>
    simhashPairs(s, d, memo = false).orderBy("id_a", "id_b").limit(1000)
  }

  /** Completeness audit of the banded SimHash pipeline against BRUTE-FORCE
    * ground truth (all-pairs XOR popcount — an audit-scale tool, documented
    * as such, like the brute-force ANN baseline): the 4×16-bit banding is
    * pigeonhole-complete for hamming ≤ 3, so recall must be exactly 1.0
    * unless the mega-bucket cap dropped members — the audit row makes any
    * cap loss visible, and precision is 1.0 by construction (every
    * reported pair re-verified with the exact XOR). Floors pinned in
    * NearDupAuditSpec. */
  def simhashAudit(s: SparkSession, d: String,
                   p: SimHashParams = SimHashParams()): DataFrame = {
    val sh = simhashTable(s, d)
    // fanOut on the STREAM side of the all-pairs BNLJ: the n² popcount
    // evaluation otherwise runs in as many tasks as the memoized relation
    // has partitions (guide §2.2)
    val truth = fanOut(sh).select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("simhash").as("sh_b")))
      .filter(col("id_a") < col("id_b") &&
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= p.maxHamming)
      .select("id_a", "id_b")
    val reported = simhashPairs(s, d, p)
    // ONE pass over the n² truth join: true + recalled counts share the
    // same left join (reported pairs are distinct, so no multiplication) —
    // the count + semi-join-count branch pair evaluated the brute-force
    // cross join twice.
    val truthStats = truth
      .join(reported.select("id_a", "id_b").withColumn("hit", lit(1)),
        Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_recalled"))
    val nRep = reported.agg(count(lit(1)).as("n_reported"))
    val nPrec = reported.filter(col("hamming") <= p.maxHamming)
      .agg(count(lit(1)).as("n_precise"))
    truthStats.crossJoin(nRep).crossJoin(nPrec)
      .select(col("n_true"), col("n_reported"), col("n_recalled"), col("n_precise"),
        round(col("n_recalled") / col("n_true"), 4).as("recall"),
        round(col("n_precise") / col("n_reported"), 4).as("precision"))
  }

  private val dedupSimhashAudit =
    Q.noOracle("dedup_simhash_audit")(simhashAudit(_, _))

  // -------------------------------------------------- extraction (X1/X2)
  /** Deterministic 10-K-shaped text synthesized identically in both engines
    * (the test `documents` table carries no filings). */
  private def tenK(idCol: Column, textCol: Column): Column =
    concat(
      lit("ITEM 7. MANAGEMENT DISCUSSION. We reported revenue of $"),
      ((idCol * 7) % 997).cast("string"),
      lit(" million and net income of $"),
      ((idCol * 3) % 499).cast("string"),
      lit(" million for fiscal "),
      (lit(2000) + (idCol % 25)).cast("string"),
      lit(". "), textCol, lit(" ITEM 7A. QUANTITATIVE DISCLOSURES."))

  // NOTE: no leading `||` on continuation lines — stripMargin would eat it.
  private val tenKSql =
    """('ITEM 7. MANAGEMENT DISCUSSION. We reported revenue of $' ||
      | CAST((doc_id * 7) % 997 AS VARCHAR) ||
      | ' million and net income of $' || CAST((doc_id * 3) % 499 AS VARCHAR) ||
      | ' million for fiscal ' || CAST(2000 + (doc_id % 25) AS VARCHAR) ||
      | '. ' || text || ' ITEM 7A. QUANTITATIVE DISCLOSURES.')""".stripMargin

  private val ITEM7_PATTERN = """ITEM 7\.(.*?)ITEM 7A\."""

  /** X1 as the custom Catalyst expression (graft.expr.ExtractFilingText);
    * the oracle replays the pinned spec pattern with DuckDB regexp_extract
    * (equivalent on these newline-free inputs; DOTALL matters only for
    * multi-line filings). */
  private val extract10k = Q(
    "extract_10k",
    s"""SELECT doc_id,
       |       regexp_extract($tenKSql, 'ITEM 7\\.(.*?)ITEM 7A\\.', 1) AS item7
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      graft.expr.Extractors.extract_10k(tenK(col("doc_id"), col("text"))).as("item7"))
      .orderBy("doc_id")
  }

  /** X2 as the custom map-valued expression, scalars pulled back out so
    * the oracle can compute them directly. */
  private val extractMetrics = Q(
    "extract_metrics",
    s"""SELECT doc_id,
       |       CAST(regexp_extract($tenKSql, 'revenue of \\$$([0-9]+) million', 1) AS DOUBLE)
       |         AS revenue,
       |       CAST(regexp_extract($tenKSql, 'net income of \\$$([0-9]+) million', 1) AS DOUBLE)
       |         AS net_income,
       |       CAST(regexp_extract($tenKSql, 'fiscal ([0-9]{4})', 1) AS BIGINT) AS year
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val m = graft.expr.Extractors.extract_metrics(tenK(col("doc_id"), col("text")))
    documents(s, d)
      .withColumn("m", m)
      .select(
        col("doc_id"),
        element_at(col("m"), "revenue").as("revenue"),
        element_at(col("m"), "net_income").as("net_income"),
        element_at(col("m"), "year").cast("long").as("year"))
      .orderBy("doc_id")
  }

  /** P1 — URL canonicalization over synthesized noisy URLs. The oracle
    * doesn't re-canonicalize: it constructs the EXPECTED canonical string
    * per noise variant directly, which is a stronger check. */
  private val canonicalizeUrl = Q(
    "canonicalize_url",
    """SELECT doc_id,
      |       CASE WHEN doc_id % 5 = 4
      |            THEN 'https://' || source || '.example.com/docs/'
      |                 || CAST(doc_id AS VARCHAR) || '?b=2&a=1'
      |            ELSE 'https://' || source || '.example.com/docs/'
      |                 || CAST(doc_id AS VARCHAR) END AS canonical
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val id = col("doc_id").cast("string")
    val noisy = when(col("doc_id") % 5 === 0,
        concat(lit("HTTPS://"), upper(col("source")), lit(".EXAMPLE.COM/docs/"), id))
      .when(col("doc_id") % 5 === 1,
        concat(lit("https://"), col("source"), lit(".example.com:443/docs/"), id))
      .when(col("doc_id") % 5 === 2,
        concat(lit("https://"), col("source"), lit(".example.com/./docs/"), id))
      .when(col("doc_id") % 5 === 3,
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), id, lit("#frag")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), id, lit("?b=2&a=1&b=3")))
    documents(s, d)
      .select(col("doc_id"),
        graft.expr.CanonicalizeUrl.canonicalize_url(noisy).as("canonical"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- html → text
  private val htmlSql =
    """('<html><head><title>' || source || '</title></head><body><h1>Doc ' ||
      | CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p><a href="/next/' ||
      | CAST(doc_id AS VARCHAR) || '">next</a></body></html>')""".stripMargin

  private def htmlCol: Column = concat(
    lit("<html><head><title>"), col("source"),
    lit("</title></head><body><h1>Doc "), col("doc_id").cast("string"),
    lit("</h1><p>"), col("text"), lit("</p><a href=\"/next/"),
    col("doc_id").cast("string"), lit("\">next</a></body></html>"))

  private val htmlToText = Q(
    "html_to_text",
    s"""SELECT doc_id,
       |       trim(regexp_replace(regexp_replace($htmlSql, '<[^>]*>', ' ', 'g'),
       |                           ' +', ' ', 'g')) AS stripped
       |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    docsSorted(s, d, "source", "text").select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(htmlCol, "<[^>]*>", " "), " +", " "))
        .as("stripped"))
  }

  // ------------------------------------------------------- multimodal
  /** Multimodal plumbing: opaque binary column + typed metadata extraction.
    * The "decode" is a deterministic stub (no image/audio libs in this
    * container) — the Spark-side schema/partitioning/batching is real; see
    * graft.multimodal for the mapPartitions decode pipeline. */
  private val multimodalMeta = Q(
    "multimodal_meta",
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
      |       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
      |       CAST((ascii(substr(text, 1, 1)) * 3) % 480 AS BIGINT) AS fake_height
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val blob = encode(col("text"), "UTF-8")
    documents(s, d).select(
      col("doc_id"),
      length(blob).cast("long").as("n_bytes"),
      ascii(substring(col("text"), 1, 1)).cast("long").as("first_byte"),
      (length(blob) % 640).cast("long").as("fake_width"),
      ((ascii(substring(col("text"), 1, 1)) * 3) % 480).cast("long").as("fake_height"))
      .orderBy("doc_id")
  }

  /** Sorted doc ids as a Dataset[Long] — the shared head of the multimodal
    * decode queries. The global ORDER BY runs over the NARROW id column
    * BEFORE the decode map (guide §1.4/§2.3): range-partitioning's sample
    * pass re-executes its child subtree, so a trailing orderBy above the
    * decoder ran every codec TWICE — and on ONE task, because the sample
    * fed from the single-split scan. Sorting first makes the sample pass a
    * bare id scan and runs the decode ONCE over the sorted range
    * partitions (map stages preserve partition-local row order and range
    * partitions are read in order, so the output ordering contract is
    * unchanged — pinned against the explicit-orderBy form in
    * MultimodalSpec). */
  private def sortedDocIds(s: SparkSession, d: String) = {
    import s.implicits._
    sortedWide(documents(s, d).select(col("doc_id").cast("long").as("doc_id")),
      "doc_id").as[Long]
  }

  /** The batched mapPartitions decode pipeline (graft.multimodal): binary
    * payloads → typed features via a pluggable decoder (deterministic stub
    * here — no codecs in this container). Engine-specific → rows-only. */
  private val multimodalDecode = Q.noOracle("multimodal_decode") { (s, d) =>
    import graft.multimodal.Multimodal
    Multimodal.decode(
      // pre-sorted narrow input; decode preserves the order (see
      // sortedDocIds) so no post-decode sort re-runs the pipeline
      Multimodal.mediaFromDocuments(
        sortedWide(documents(s, d).select(col("doc_id"), col("text")), "doc_id")),
      new Multimodal.StubDecoder())
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("width"),
        col("height"), col("channels"), col("sample_rate"), col("n_frames"),
        // Array columns serialized to JSON strings: the driver's pandas
        // comparator can't hash ndarray cells (rows-only check crashes on
        // array<long>/array<float>); the JSON form pins the same bytes.
        to_json(col("frame_offsets")).as("frame_offsets"),
        to_json(col("embedding")).as("embedding"))
  }

  /** REAL decode round-trip with an exact cross-engine oracle: media
    * payloads are synthesized as actual BMP/WAV files whose dimensions are
    * pure functions of doc_id, the JvmCodecDecoder parses the BYTES back
    * (real header traversal, no stub), and DuckDB recomputes the expected
    * metadata from the generation formulas — so a decoder that misreads a
    * header fails the hash compare. Even/odd doc_id → image/audio. */
  private val multimodalDecodeReal = Q(
    "multimodal_decode_real",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
      |  CAST(CASE WHEN doc_id % 2 = 0
      |    THEN 54 + ((((16 + doc_id % 32) * 3 + 3) // 4) * 4) * (8 + doc_id % 16)
      |    ELSE 44 + (256 + doc_id % 128) * 2 END AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 32 ELSE -1 END AS INT) AS width,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 8 + doc_id % 16 ELSE -1 END AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INT) AS channels,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 8000 + (doc_id % 3) * 4000 END AS INT) AS sample_rate,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN -1 ELSE 256 + doc_id % 128 END AS BIGINT) AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.multimodal.{Codecs, JvmCodecDecoder, Multimodal}
    val media = sortedDocIds(s, d).map { id =>
      if (id % 2 == 0)
        Multimodal.MediaRow(id, "image",
          Codecs.makeBmp((16 + id % 32).toInt, (8 + id % 16).toInt, seed = id))
      else
        Multimodal.MediaRow(id, "audio",
          Codecs.makeWav((8000 + (id % 3) * 4000).toInt, (256 + id % 128).toInt, seed = id))
    }
    Multimodal.decode(media, new JvmCodecDecoder())
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("width"),
        col("height"), col("channels"), col("sample_rate"), col("n_frames"))
  }

  /** COMPRESSED-image decode with an exact cross-engine oracle: payloads
    * are real PNG (even doc_id) / JPEG (odd doc_id) files encoded via
    * javax.imageio from dimensions that are pure functions of doc_id, the
    * decoder parses the actual compressed bytes back (ImageIO — real
    * inflate/DCT, not the stub), and DuckDB recomputes the expected
    * geometry from the generation formulas. Pixel-level exactness for the
    * lossless PNG path is pinned separately in MultimodalSpec (DuckDB
    * can't run the pixel mix function). */
  private val multimodalDecodeImg = Q(
    "multimodal_decode_img",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS codec,
      |  CAST(16 + doc_id % 32 AS INT) AS width,
      |  CAST(8 + doc_id % 16 AS INT) AS height,
      |  CAST(3 AS INT) AS channels
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.multimodal.{Codecs, JvmCodecDecoder, Multimodal}
    val media = sortedDocIds(s, d).map { id =>
      val (w, h) = ((16 + id % 32).toInt, (8 + id % 16).toInt)
      if (id % 2 == 0) Multimodal.MediaRow(id, "png", Codecs.makePng(w, h, seed = id))
      else Multimodal.MediaRow(id, "jpeg", Codecs.makeJpeg(w, h, seed = id))
    }
    Multimodal.decode(media, new JvmCodecDecoder())
      .toDF()
      .select(col("doc_id"), col("kind").as("codec"), col("width"),
        col("height"), col("channels"))
  }

  /** MULTI-FRAME container decode with an exact cross-engine oracle:
    * payloads are real animated GIFs (LZW-compressed, frame count
    * 1 + doc_id % 5) encoded via javax.imageio from formulas that are pure
    * functions of doc_id; the decoder reads every frame back through
    * ImageIO AND walks the GIF89a block structure for frame offsets (the
    * two must agree — decodeGif cross-checks). DuckDB recomputes geometry
    * and the exact frame/offset counts from the generation formulas. The
    * offsets' VALUES depend on the JDK encoder's LZW output, so they are
    * pinned structurally in MultimodalSpec, not here. */
  private val multimodalDecodeGif = Q(
    "multimodal_decode_gif",
    """SELECT doc_id,
      |  'gif' AS codec,
      |  CAST(16 + doc_id % 32 AS INT) AS width,
      |  CAST(8 + doc_id % 16 AS INT) AS height,
      |  CAST(1 + doc_id % 5 AS BIGINT) AS n_frames,
      |  CAST(1 + doc_id % 5 AS BIGINT) AS n_offsets
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    import s.implicits._
    import graft.multimodal.{Codecs, JvmCodecDecoder, Multimodal}
    val media = sortedDocIds(s, d).map { id =>
      Multimodal.MediaRow(id, "gif",
        Codecs.makeGif((16 + id % 32).toInt, (8 + id % 16).toInt,
          (1 + id % 5).toInt, seed = id))
    }
    Multimodal.decode(media, new JvmCodecDecoder())
      .toDF()
      .select(col("doc_id"), col("kind").as("codec"), col("width"),
        col("height"), col("n_frames"),
        size(col("frame_offsets")).cast("long").as("n_offsets"))
  }

  val all: Seq[Q] = Seq(
    tokenCount, textQuality, textLangId, textFingerprint, fingerprintSignature,
    textRepetition, sampleHash, textPiiRedact, decontaminate,
    dedupExact, dedupParagraph, dedupNgramJaccard, dedupClusters,
    dedupMinhash, minhashSignature,
    dedupSimhash, dedupMinhashAudit, dedupSimhashAudit,
    extract10k, extractMetrics, canonicalizeUrl, htmlToText, multimodalMeta,
    multimodalDecode, multimodalDecodeReal, multimodalDecodeImg,
    multimodalDecodeGif)
}
