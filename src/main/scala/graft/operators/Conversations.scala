package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.functions.text

/** Post-training (SFT / chat) data operators: parse JSON chat
  * transcripts into turn tables, validate the conversation contract
  * (role alternation, non-empty content, assistant-final), report
  * per-conversation token budgets, and render chat-template text —
  * the four steps every instruction-tuning pipeline runs between "raw
  * conversations landed" and "packed training sequences".
  *
  * Scale shape: [[parseTurns]] is a pure projection + generator (one
  * narrow stage, no shuffle — `from_json` and `posexplode` both run
  * inside whole-stage codegen); [[validate]], [[stats]] and [[render]]
  * are each ONE hash aggregation over the turn table keyed by the
  * conversation id — map-side combinable, no windows, no self-joins,
  * so a 100 TB conversation corpus costs one exchange per audit.
  * Every reported value is an integer, a boolean, or an exact string,
  * so all four faces replay bit-for-bit on any engine.
  */
object Conversations {

  /** The wire schema of one chat message. Extra JSON fields are
    * ignored (permissive read); missing fields surface as NULLs for
    * [[validate]] to flag rather than throw.
    */
  val messageSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("role", StringType),
    StructField("content", StringType))))

  /** Parse a JSON-array chat transcript column into one row per turn:
    * `(idCol, turn_idx, role, content)`.
    *
    * Malformed JSON (or JSON that is not an array of objects) yields
    * ONE row with NULL `turn_idx`/`role`/`content` — the conversation
    * stays visible to downstream audits as a parse failure instead of
    * silently vanishing (`posexplode_outer`, not `posexplode`). An
    * EMPTY array `[]` does the same: a zero-message conversation is a
    * contract violation, not a no-op.
    */
  def parseTurns(df: DataFrame, idCol: String, jsonCol: String): DataFrame = {
    val parsed = from_json(col(jsonCol), messageSchema)
    // [] → NULL so empty transcripts keep their carrier row too
    val nonEmpty = when(size(parsed) > 0, parsed)
    df.select(col(idCol), posexplode_outer(nonEmpty).as(Seq("turn_idx", "m")))
      .select(
        col(idCol),
        col("turn_idx"),
        col("m.role").as("role"),
        col("m.content").as("content"))
  }

  /** Per-conversation contract audit over a [[parseTurns]] table.
    * Output, one row per conversation:
    *
    *   - `n_turns`      parsed message count (0 when the JSON failed)
    *   - `parse_ok`     the transcript parsed to ≥1 message
    *   - `starts_ok`    first role is `system` or `user`
    *   - `alternates`   after an optional leading system turn, roles
    *                    strictly alternate user/assistant starting
    *                    with user, and `system` appears nowhere else
    *   - `no_empty`     every content is non-NULL and non-blank
    *   - `ends_assistant` the last role is `assistant`
    *   - `valid`        all of the above and ≥ 2 parsed turns
    *
    * ONE aggregation, no window: the first/last turns are recovered
    * with order-independent `min/max(struct(turn_idx, role))`, and
    * alternation is counted as violations under BOTH possible offsets
    * (system-led vs user-led), the applicable one selected after the
    * aggregate — so partial aggregation stays map-side combinable.
    */
  def validate(turns: DataFrame, idCol: String): DataFrame = {
    val idx = col("turn_idx")
    val role = col("role")
    // null-safe role tests: a message missing its "role" field must COUNT
    // as an alternation violation, not null out of the predicate
    def roleIs(r: String): Column = role <=> lit(r)
    // violation counters for the two alternation phases
    val expect0 = // user at even idx, assistant at odd (no system turn)
      (idx % 2 === 0 && !roleIs("user")) || (idx % 2 === 1 && !roleIs("assistant"))
    val expect1 = // idx 0 is system; user at odd, assistant at even>0
      idx > 0 &&
        ((idx % 2 === 1 && !roleIs("user")) || (idx % 2 === 0 && !roleIs("assistant")))
    val agg = turns.groupBy(col(idCol)).agg(
      count(idx).as("n_turns"),
      // min_by/max_by keep the aggregate hash-based (a struct-valued
      // min/max falls back to SortAggregate — a per-partition sort the
      // turn table doesn't need); rows with NULL turn_idx (parse
      // failures) are ignored by the ordering, so both come back NULL
      // for broken transcripts and the flags below read false
      min_by(role, idx).as("__first_role"),
      max_by(role, idx).as("__last_role"),
      sum(when(expect0, 1L).otherwise(0L)).as("__viol0"),
      sum(when(expect1, 1L).otherwise(0L)).as("__viol1"),
      sum(when(
        idx.isNotNull && (col("content").isNull || trim(col("content")) === ""),
        1L).otherwise(0L)).as("__empties"))
    // every flag lands as a real boolean — NULL first/last roles (parse
    // failures, missing "role" fields) must read false, not NULL
    def flag(c: Column): Column = coalesce(c, lit(false))
    agg.select(
      col(idCol),
      col("n_turns"),
      (col("n_turns") > 0).as("parse_ok"),
      flag(col("n_turns") > 0 &&
        col("__first_role").isin("system", "user")).as("starts_ok"),
      flag(col("n_turns") > 0 &&
        when(col("__first_role") === "system", col("__viol1") === 0)
          .otherwise(col("__viol0") === 0)).as("alternates"),
      (col("n_turns") > 0 && col("__empties") === 0).as("no_empty"),
      flag(col("__last_role") === "assistant").as("ends_assistant"))
      .withColumn(
        "valid",
        col("n_turns") >= 2 && col("starts_ok") && col("alternates") &&
          col("no_empty") && col("ends_assistant"))
  }

  /** Per-conversation volume report over a [[parseTurns]] table:
    * turn counts and whitespace-token budgets split by role, plus
    * total characters — the numbers a packing planner ([[Packing]])
    * and a cost model consume. Integer-only output; parse-failed
    * conversations report all zeros (they are still rows — the budget
    * of a broken transcript is a fact, not a missing value).
    */
  def stats(turns: DataFrame, idCol: String): DataFrame = {
    val tok = text.tokenCount(col("content")).cast("long")
    def tokensWhere(r: String): Column =
      coalesce(sum(when(col("role") === r, tok).otherwise(0L)), lit(0L))
    turns.groupBy(col(idCol)).agg(
      count(col("turn_idx")).as("n_turns"),
      count(when(col("role") === "user", 1)).as("n_user"),
      count(when(col("role") === "assistant", 1)).as("n_assistant"),
      tokensWhere("user").as("user_tokens"),
      tokensWhere("assistant").as("assistant_tokens"),
      coalesce(sum(length(col("content")).cast("long")), lit(0L)).as("n_chars"))
  }

  /** Render a [[parseTurns]] table to chat-template text, one row per
    * conversation that parsed to ≥1 message:
    *
    *   `<|im_start|>role\ncontent<|im_end|>\n` per turn, concatenated
    *   in turn order, plus a trailing `<|im_start|>assistant\n` when
    *   `addGenerationPrompt` (the inference-prefix convention).
    *
    * NULL content renders as empty string (the audit flags it;
    * rendering is mechanical). ONE aggregation: turns collect into an
    * array, `array_sort` orders by `turn_idx` (struct ordering — no
    * window, no per-key sort exchange), and the template is a codegen'd
    * transform + join. Conversations are rendered independently, so
    * the operator scales with the corpus, not the longest transcript.
    */
  def render(
      turns: DataFrame,
      idCol: String,
      addGenerationPrompt: Boolean = false): DataFrame = {
    val collected = turns
      .where(col("turn_idx").isNotNull)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("turn_idx"), col("role"), col("content"))).as("__t"))
    val body = array_join(
      transform(
        array_sort(col("__t")),
        m => concat(
          lit("<|im_start|>"), coalesce(m.getField("role"), lit("")), lit("\n"),
          coalesce(m.getField("content"), lit("")), lit("<|im_end|>\n"))),
      "")
    val rendered =
      if (addGenerationPrompt) concat(body, lit("<|im_start|>assistant\n")) else body
    collected.select(col(idCol), rendered.as("rendered"))
  }

  /** Contract audit for TOOL-CALLING transcripts — the agentic-data
    * face of [[validate]], whose strict user/assistant alternation
    * cannot express tool rounds. Legal roles are `system | user |
    * assistant | tool` (`system` only at turn 0); legal TRANSITIONS
    * are `system→user`, `user→assistant`, `assistant→{tool, user}`,
    * `tool→{tool, assistant}` (parallel tool results chain, and the
    * assistant must speak after its tools); the last turn must be
    * `assistant`; every content non-blank. Output, one row per
    * conversation: `n_turns, parse_ok, starts_ok, role_legal,
    * transitions_ok, no_empty, ends_assistant, valid` (valid = all,
    * with ≥ 2 turns).
    *
    * Unlike [[validate]] (one parity-expressible aggregation),
    * transition checking needs ADJACENCY, so this face pays one
    * exchange + sort for a `lag` window before its aggregation — the
    * honest minimum for a neighbor predicate. NULL roles count as
    * illegal and as bad transitions; carrier rows (failed parses)
    * report `parse_ok = false` with zeros, never vanish.
    */
  def validateWithTools(turns: DataFrame, idCol: String): DataFrame = {
    val idx = col("turn_idx")
    val role = col("role")
    def is(c: Column, r: String): Column = c <=> lit(r)
    val legal = Seq("system", "user", "assistant", "tool")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(idx)
    val prev = col("__prev")
    val allowed =
      (is(prev, "system") && is(role, "user")) ||
        (is(prev, "user") && is(role, "assistant")) ||
        (is(prev, "assistant") && (is(role, "tool") || is(role, "user"))) ||
        (is(prev, "tool") && (is(role, "tool") || is(role, "assistant")))
    // the lag window runs over the UNFILTERED table and every counter
    // guards on idx.isNotNull, so carrier rows (which by parseTurns'
    // construction are each conversation's ONLY row when present) ride
    // through ONE aggregation instead of a second groupBy + join-back
    val body = turns.withColumn("__prev", lag(role, 1).over(w))
    body
      .groupBy(col(idCol))
      .agg(
        count(idx).as("n_turns"),
        min_by(role, idx).as("__first"),
        max_by(role, idx).as("__last"),
        sum(when(idx.isNotNull && (role.isNull || !role.isin(legal: _*) ||
          (is(role, "system") && idx =!= 0)), 1).otherwise(0)).as("__illegal"),
        sum(when(idx.isNotNull && prev.isNotNull && !allowed, 1).otherwise(0))
          .as("__badtrans"),
        sum(when(idx.isNotNull &&
          (col("content").isNull || trim(col("content")) === ""), 1)
          .otherwise(0)).as("__empty"))
      .select(
        col(idCol),
        col("n_turns"),
        (col("n_turns") > 0).as("parse_ok"),
        coalesce(col("n_turns") > 0 && col("__first").isin("system", "user"),
          lit(false)).as("starts_ok"),
        (col("n_turns") > 0 && col("__illegal") === 0L).as("role_legal"),
        (col("n_turns") > 0 && col("__badtrans") === 0L).as("transitions_ok"),
        (col("n_turns") > 0 && col("__empty") === 0L).as("no_empty"),
        coalesce(col("__last") === "assistant", lit(false)).as("ends_assistant"))
      .withColumn("valid",
        col("parse_ok") && col("n_turns") >= 2 && col("starts_ok") &&
          col("role_legal") && col("transitions_ok") && col("no_empty") &&
          col("ends_assistant"))
  }

  /** Split reasoning traces out of assistant turns — the R1-style
    * data-prep step for transcripts whose assistant messages carry
    * `<think>…</think>` chain-of-thought blocks: SFT targets want the
    * VISIBLE text, reasoning-distillation targets want the traces,
    * and both need to know when the tags are malformed. Per turn:
    *
    *   - `visible`    content with every balanced tag pair removed
    *     (non-greedy, dot-matches-newline — traces span lines)
    *   - `reasoning`  the extracted trace segments, in order,
    *     concatenated ('' when none)
    *   - `has_reasoning`  at least one balanced pair was found
    *   - `tags_clean` no ORPHAN tag survives in `visible` — an
    *     unmatched `<think>` or `</think>` means truncated or
    *     interleaved traces, and such a turn should be quarantined,
    *     not trained on (the extraction is still returned: evidence,
    *     not a silent drop)
    *
    * Non-assistant turns pass through with `visible = content`, empty
    * reasoning, both flags benign — traces in user/tool turns are
    * template noise, not chain-of-thought. Pure codegen'd regex
    * projections, zero shuffle at any corpus size.
    */
  def splitReasoning(
      turns: DataFrame,
      openTag: String = "<think>",
      closeTag: String = "</think>"): DataFrame = {
    val o = java.util.regex.Pattern.quote(openTag)
    val c = java.util.regex.Pattern.quote(closeTag)
    val block = s"(?s)$o(.*?)$c"
    val content = coalesce(col("content"), lit(""))
    val isAsst = col("role") <=> lit("assistant")
    val visible = regexp_replace(content, block, "")
    val reasoning = array_join(regexp_extract_all(content, lit(block), lit(1)), "")
    val hasBlock = content.rlike(block)
    val orphanFree = !(visible.contains(openTag) || visible.contains(closeTag))
    turns.select(
      turns.columns.map(col) ++ Seq(
        when(isAsst, visible).otherwise(content).as("visible"),
        when(isAsst, reasoning).otherwise(lit("")).as("reasoning"),
        when(isAsst, hasBlock).otherwise(lit(false)).as("has_reasoning"),
        when(isAsst, orphanFree).otherwise(lit(true)).as("tags_clean")): _*)
  }

  /** Context-window truncation: fit each conversation into a
    * whitespace-token budget (the [[stats]] token convention) by
    * keeping (1) the system turn, always, its tokens charged against
    * the budget, and (2) the maximal SUFFIX of the remaining turns —
    * the newest context — whose token total fits what's left, then
    * (3) trimming that suffix forward to its first `user` turn, so
    * the kept block never opens with an orphaned assistant answer.
    * Conversations whose kept block contains no user turn emit
    * NOTHING (a lone system prompt is not trainable). NULL-`turn_idx`
    * carrier rows drop. Output: the surviving turn rows, unchanged
    * schema.
    *
    * Scale shape: the tokenized turn table and the budget-surviving
    * block are each computed once and PINNED — tt feeds the system
    * aggregate, the suffix window, and the system re-emit, and kept
    * feeds the first-user aggregate and the body (unpinned, every
    * branch would re-run the upstream parse); all key-shaped
    * exchanges hash by conversation, and all arithmetic is integer,
    * so the cut replays exactly on any engine and partitioning. Pin
    * lifetime: the [[Graphs.pageRankInt]] convention.
    */
  def truncateToBudget(
      turns: DataFrame,
      idCol: String,
      maxTokens: Long): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be positive, got $maxTokens")
    // loud on collision (the ingest-family convention): carried caller
    // columns must not silently clobber — or be clobbered by — the
    // internal working columns
    for (c <- Seq("__tok", "__sfx", "__stok", "__first_user"))
      require(!turns.columns.contains(c), s"input already has a '$c' column")
    val tok = coalesce(size(text.tokens(col("content"))), lit(0)).cast("long")
    // "unchanged schema" is the contract: carry EVERY caller column
    // through (e.g. splitReasoning's visible/reasoning), not a fixed
    // 4-column projection.
    val origCols = turns.columns.toSeq
    val tt = Caches.pin(turns
      .where(col("turn_idx").isNotNull)
      .select(origCols.map(col) :+ tok.as("__tok"): _*))
    val isSys = col("turn_idx") === 0 && col("role") <=> lit("system")
    val sys = tt.where(isSys)
    val sysTok = sys.groupBy(col(idCol))
      .agg(coalesce(sum(col("__tok")), lit(0L)).as("__stok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("turn_idx").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val kept = Caches.pin(tt.where(!isSys)
      .withColumn("__sfx", sum(col("__tok")).over(w))
      .join(sysTok, Seq(idCol), "left")
      .where(col("__sfx") <= lit(maxTokens) - coalesce(col("__stok"), lit(0L))))
    val firstUser = kept.where(col("role") <=> lit("user"))
      .groupBy(col(idCol))
      .agg(min(col("turn_idx")).as("__first_user"))
    val body = kept.join(firstUser, Seq(idCol))
      .where(col("turn_idx") >= col("__first_user"))
    val head = sys.join(firstUser, Seq(idCol))
    body.select(origCols.map(col): _*)
      .unionAll(head.select(origCols.map(col): _*))
  }

  /** The one-call SFT data pipeline: parse → contract-filter → render
    * → loss-mask accounting, ONE scan. Output, one row per VALID
    * conversation (the [[validate]] contract): `(idCol, rendered,
    * total_chars, target_chars, n_target_spans)` — the rendered
    * training string plus the character budget split a packing
    * planner needs (what fraction of each sequence actually carries
    * loss).
    *
    * `total_chars == length(rendered) == Σ span lengths` binds
    * [[render]]'s string building and [[lossMaskSpans]]' template
    * arithmetic to each other — a drift in either breaks the
    * pipeline's own consistency, not just a spec.
    *
    * Scale shape: the parsed turn table is computed ONCE and pinned
    * (three consumers: the audit, the render, the span aggregation —
    * unpinned, each would re-run the JSON parse over the scan); the
    * three branches are hash aggregations by conversation joined on
    * the id. Pin lifetime: the [[Graphs.pageRankInt]] convention.
    */
  def sftDataset(
      chats: DataFrame,
      idCol: String,
      jsonCol: String): DataFrame = {
    val turns = Caches.pin(parseTurns(chats, idCol, jsonCol))
    val valid = validate(turns, idCol).where(col("valid")).select(col(idCol))
    val rendered = render(turns, idCol)
    val spanAgg = lossMaskSpans(turns, idCol)
      .groupBy(col(idCol))
      .agg(
        count(when(col("is_target"), 1)).as("n_target_spans"),
        coalesce(sum(when(col("is_target"), col("end") - col("start"))), lit(0L))
          .as("target_chars"))
    valid
      .join(rendered, Seq(idCol))
      .join(spanAgg, Seq(idCol))
      .select(
        col(idCol),
        col("rendered"),
        length(col("rendered")).cast("long").as("total_chars"),
        col("target_chars"),
        col("n_target_spans"))
  }

  /** Loss-mask span table for SFT: per turn, the CHARACTER offsets
    * `[start, end)` of that turn's content inside the [[render]]ed
    * string, plus `is_target` (role equals `targetRole`) — the span
    * map a trainer uses to mask loss to assistant tokens while the
    * user/system text stays context-only. Offsets are pure integer
    * prefix sums over the template arithmetic (`<|im_start|>` = 12
    * chars, `role\n`, content, `<|im_end|>\n` = 11 chars), so
    * `rendered.substring(start, end − start) == content` holds by
    * construction for every turn — the spec pins that law against
    * [[render]] itself, and an external engine replays the sums
    * exactly.
    *
    * Conventions follow [[render]]: NULL-`turn_idx` carrier rows
    * (failed parses) are dropped, NULL role/content render as '' (so
    * their span is empty but correctly placed). `is_target` is
    * null-safe — a missing role is never a target.
    *
    * Scale shape: one exchange (hash by conversation) feeding a
    * windowed running sum ordered by `turn_idx` — the [[graft
    * .operators.Packing]] distributed-prefix-sum shape within keys;
    * conversations are independent, so the operator scales with the
    * corpus, not the longest transcript. Output: `(idCol, turn_idx,
    * role, start, end, is_target)`.
    */
  def lossMaskSpans(
      turns: DataFrame,
      idCol: String,
      targetRole: String = "assistant"): DataFrame = {
    val roleLen = length(coalesce(col("role"), lit("")))
    val contentLen = length(coalesce(col("content"), lit("")))
    // <|im_start|> (12) + role + \n (1) + content + <|im_end|>\n (11)
    val spanLen = (roleLen + contentLen + lit(24)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("turn_idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefix = coalesce(sum(spanLen).over(w), lit(0L))
    val start = prefix + lit(12L) + roleLen.cast("long") + lit(1L)
    turns
      .where(col("turn_idx").isNotNull)
      .select(
        col(idCol),
        col("turn_idx"),
        col("role"),
        start.as("start"),
        (start + contentLen.cast("long")).as("end"),
        (col("role") <=> lit(targetRole)).as("is_target"))
  }
}
