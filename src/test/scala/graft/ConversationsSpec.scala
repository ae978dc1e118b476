package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Conversations

class ConversationsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def turnsOf(convs: (Long, String)*) =
    Conversations.parseTurns(convs.toSeq.toDF("id", "j"), "id", "j")

  private val good =
    """[{"role":"user","content":"hi there"},{"role":"assistant","content":"hello"}]"""
  private val sysLed =
    """[{"role":"system","content":"be brief"},{"role":"user","content":"q"},{"role":"assistant","content":"a"}]"""

  test("parseTurns: well-formed JSON explodes to ordered turns; extra fields ignored") {
    val got = turnsOf(
      1L -> good,
      2L -> """[{"role":"user","content":"x","weight":3}]""")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    assert(got.toSet === Set(
      (1L, 0, "user", "hi there"), (1L, 1, "assistant", "hello"),
      (2L, 0, "user", "x")))
  }

  test("parseTurns: malformed, empty-array, and NULL transcripts keep a NULL carrier row") {
    val df = Seq((1L, "[{bad"), (2L, "[]"), (3L, null: String)).toDF("id", "j")
    val got = Conversations.parseTurns(df, "id", "j").collect()
    assert(got.length === 3)
    assert(got.forall(r => r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3)),
      "every broken transcript stays visible as one all-NULL turn row")
  }

  test("validate: the full flag matrix over hand-built witnesses") {
    val cases = Seq(
      1L -> good, // valid
      2L -> sysLed, // valid, system-led
      3L -> """[{"role":"user","content":"a"},{"role":"user","content":"b"}]""", // no alternation
      4L -> """[{"role":"user","content":"a"},{"role":"assistant","content":" "}]""", // blank content
      5L -> """[{"role":"user","content":"a"}]""", // too short, not assistant-final
      6L -> "[{broken", // parse failure
      7L -> """[{"role":"assistant","content":"a"},{"role":"user","content":"b"}]""", // starts wrong
      8L -> """[{"role":"user","content":"a"},{"role":"assistant","content":"b"},{"role":"system","content":"late"}]""", // system not first
      9L -> """[{"content":"no role"},{"role":"assistant","content":"b"}]""") // missing role = violation
    val v = Conversations.validate(turnsOf(cases: _*), "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = {
      val r = v(id)
      (r.getAs[Boolean]("parse_ok"), r.getAs[Boolean]("starts_ok"),
        r.getAs[Boolean]("alternates"), r.getAs[Boolean]("no_empty"),
        r.getAs[Boolean]("ends_assistant"), r.getAs[Boolean]("valid"))
    }
    assert(flags(1L) === ((true, true, true, true, true, true)))
    assert(flags(2L) === ((true, true, true, true, true, true)))
    assert(flags(3L) === ((true, true, false, true, false, false)))
    assert(flags(4L) === ((true, true, true, false, true, false)))
    assert(flags(5L) === ((true, true, true, true, false, false)))
    assert(flags(6L) === ((false, false, false, false, false, false)))
    assert(flags(7L) === ((true, false, false, true, false, false)))
    assert(flags(8L) === ((true, true, false, true, false, false)))
    assert(flags(9L)._3 === false, "a message missing its role must break alternation")
    assert(v(5L).getAs[Long]("n_turns") === 1L)
    assert(v(6L).getAs[Long]("n_turns") === 0L)
  }

  test("stats: role-split token budgets; broken transcripts report zeros, not NULLs") {
    val st = Conversations.stats(turnsOf(1L -> sysLed, 2L -> "[{bad"), "id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(st(1L).getAs[Long]("n_turns") === 3L)
    assert(st(1L).getAs[Long]("n_user") === 1L)
    assert(st(1L).getAs[Long]("n_assistant") === 1L)
    assert(st(1L).getAs[Long]("user_tokens") === 1L)
    assert(st(1L).getAs[Long]("assistant_tokens") === 1L)
    assert(st(1L).getAs[Long]("n_chars") === ("be brief".length + 2L))
    assert(
      Seq("n_turns", "n_user", "n_assistant", "user_tokens", "assistant_tokens", "n_chars")
        .map(st(2L).getAs[Long](_)) === Seq(0L, 0L, 0L, 0L, 0L, 0L))
  }

  test("render: turn order survives shuffled input; generation prompt appends; parse failures absent") {
    // feed the turn table in REVERSED order — render must sort by turn_idx
    val turns = Seq(
      (1L, Some(1), "assistant", "hello"), (1L, Some(0), "user", "hi"),
      (2L, None: Option[Int], null: String, null: String))
      .toDF("id", "turn_idx", "role", "content")
    val out = Conversations.render(turns, "id", addGenerationPrompt = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L), "a transcript with no parsed turns renders nothing")
    assert(out(1L) ===
      "<|im_start|>user\nhi<|im_end|>\n<|im_start|>assistant\nhello<|im_end|>\n<|im_start|>assistant\n")
    val plain = Conversations.render(turns, "id").collect().head.getString(1)
    assert(plain === "<|im_start|>user\nhi<|im_end|>\n<|im_start|>assistant\nhello<|im_end|>\n")
  }

  test("lossMaskSpans: the substring law against render, for every turn") {
    // messy shapes: multi-turn, system-led, NULL role, NULL/empty content
    val turns = turnsOf(
      1L -> good,
      2L -> sysLed,
      3L -> """[{"role":"user"},{"content":"orphan"},{"role":"assistant","content":""}]""")
    val spans = Conversations.lossMaskSpans(turns, "id")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val rendered = Conversations.render(turns, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val contents = turns.collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (if (r.isNullAt(3)) "" else r.getString(3))).toMap
    assert(spans.nonEmpty)
    spans.foreach { case (id, idx, start, end, _) =>
      val want = contents((id, idx))
      val got = rendered(id).substring(start.toInt, end.toInt)
      assert(got === want, s"span ($id, $idx) must cut exactly its content")
    }
    // is_target: null-safe, assistant only
    val targets = spans.filter(_._5).map(s => (s._1, s._2)).toSet
    assert(targets === Set((1L, 1), (2L, 2), (3L, 2)),
      "assistant turns only; a NULL role is never a target")
  }

  test("lossMaskSpans: carrier rows drop; offsets survive shuffled input") {
    val df = Seq((1L, good), (2L, "[{bad")).toDF("id", "j")
    val turns = Conversations.parseTurns(df, "id", "j").repartition(7)
    val got = Conversations.lossMaskSpans(turns, "id").collect()
    assert(got.map(_.getLong(0)).toSet === Set(1L), "failed parses emit no spans")
    val first = got.find(_.getInt(1) == 0).get
    // <|im_start|> (12) + "user" (4) + \n (1) = 17
    assert(first.getLong(3) === 17L && first.getLong(4) === 17L + "hi there".length)
  }

  test("sftDataset: contract-filters, binds render length to span arithmetic, parses once") {
    val scope = graft.operators.Caches.newScope()
    val df = Seq(
      1L -> good, // valid
      2L -> sysLed, // valid
      3L -> """[{"role":"user","content":"q"}]""", // single turn → invalid
      4L -> "[{bad").toDF("id", "j")
    val out = graft.operators.Caches.inScope(scope) {
      graft.operators.Conversations.sftDataset(df, "id", "j")
    }
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet === Set(1L, 2L), "only contract-valid conversations survive")
    rows.values.foreach { r =>
      assert(r.getLong(2) === r.getString(1).length.toLong,
        "total_chars must equal the rendered length (the render/span binding law)")
    }
    assert(rows(1L).getLong(3) === "hello".length.toLong && rows(1L).getLong(4) === 1L)
    assert(out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
      "the parsed turn table must be pinned — three consumers, one JSON parse")
    scope.release()
  }

  test("validateWithTools: the transition matrix over hand-built agentic witnesses") {
    def conv(turns: (String, String)*): String =
      turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }.mkString("[", ",", "]")
    val cases = Seq(
      1L -> conv("system" -> "s", "user" -> "q", "assistant" -> "call",
        "tool" -> "r1", "tool" -> "r2", "assistant" -> "done"), // valid, parallel tools
      2L -> conv("user" -> "q", "tool" -> "r", "assistant" -> "a"), // user→tool illegal transition
      3L -> conv("user" -> "q", "assistant" -> "call", "function" -> "r",
        "assistant" -> "a"), // illegal role
      4L -> conv("user" -> "q", "assistant" -> "call", "tool" -> "r"), // ends on tool
      5L -> conv("user" -> "q", "assistant" -> "call", "tool" -> "", "assistant" -> "a"), // empty
      6L -> conv("user" -> "q", "assistant" -> "a", "user" -> "q2",
        "assistant" -> "a2"), // plain chat is ALSO legal under the tool contract
      7L -> "[{broken") // carrier
    val got = Conversations.validateWithTools(
      turnsOf(cases: _*), "id").collect().map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = (got(id).getAs[Boolean]("role_legal"),
      got(id).getAs[Boolean]("transitions_ok"), got(id).getAs[Boolean]("no_empty"),
      got(id).getAs[Boolean]("ends_assistant"), got(id).getAs[Boolean]("valid"))
    assert(flags(1L) === ((true, true, true, true, true)))
    assert(flags(2L) === ((true, false, true, true, false)))
    assert(flags(3L)._1 === false && flags(3L)._5 === false)
    assert(flags(4L) === ((true, true, true, false, false)))
    assert(flags(5L) === ((true, true, false, true, false)))
    assert(flags(6L) === ((true, true, true, true, true)))
    assert(!got(7L).getAs[Boolean]("parse_ok") && got(7L).getAs[Long]("n_turns") === 0L &&
      !got(7L).getAs[Boolean]("valid"), "carrier rows report, never vanish")
  }

  test("splitReasoning: extraction shapes, orphan flags, passthrough, conservation law") {
    val df = Seq(
      (1L, 0, "assistant", "<think>plan</think>answer"),
      (2L, 0, "assistant", "a <think>x</think> b <think>y\nz</think> c"), // multi, spans a line
      (3L, 0, "assistant", "<think>truncated"), // orphan open
      (4L, 0, "assistant", "stray</think> tail"), // orphan close
      (5L, 0, "assistant", "no trace"),
      (6L, 0, "user", "<think>not a trace</think>")) // passthrough
      .toDF("id", "turn_idx", "role", "content")
    val got = Conversations.splitReasoning(df)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[String]("visible"), r.getAs[String]("reasoning"),
          r.getAs[Boolean]("has_reasoning"), r.getAs[Boolean]("tags_clean"))).toMap
    assert(got(1L) === (("answer", "plan", true, true)))
    assert(got(2L) === (("a  b  c", "xy\nz", true, true)))
    assert(got(3L) === (("<think>truncated", "", false, false)),
      "an orphan open tag survives to visible and trips tags_clean")
    assert(got(4L) === (("stray</think> tail", "", false, false)))
    assert(got(5L) === (("no trace", "", true, true)._1, "", false, true))
    assert(got(6L) === (("<think>not a trace</think>", "", false, true)),
      "non-assistant turns pass through untouched")
    // conservation: for clean assistant turns, every character is accounted for
    val raw = Map(1L -> "<think>plan</think>answer",
      2L -> "a <think>x</think> b <think>y\nz</think> c")
    val blocks = Map(1L -> 1, 2L -> 2)
    for (id <- Seq(1L, 2L)) {
      val (v, r, _, _) = got(id)
      assert(raw(id).length === v.length + r.length + blocks(id) * ("<think>" + "</think>").length)
    }
  }

  test("truncateToBudget: system kept and charged, newest suffix fits, trims to first user") {
    // tokens: sys=2; turns 1..4: user(3), assistant(4), user(2), assistant(3)
    val df = Seq(1L ->
      """[{"role":"system","content":"be brief"},
         {"role":"user","content":"first long question"},
         {"role":"assistant","content":"quite a long answer here"},
         {"role":"user","content":"short one"},
         {"role":"assistant","content":"final short answer"}]""".replaceAll("\n\\s*", ""))
      .toDF("id", "j")
    val turns = Conversations.parseTurns(df, "id", "j")
    // budget 8: remaining 6 after system → suffix asst(3)+user(2)=5 fits,
    // adding asst(4) → 9 > 6 stops; suffix starts at user → no trim
    val got = Conversations.truncateToBudget(turns, "id", 8L)
      .collect().map(_.getInt(1)).sorted
    assert(got === Array(0, 3, 4))
    // budget 6: remaining 4 → only asst(3) fits → no user in block → NOTHING
    assert(Conversations.truncateToBudget(turns, "id", 6L).count() === 0L,
      "a kept block with no user turn is not trainable; even the system drops")
    // budget 30: everything fits
    assert(Conversations.truncateToBudget(turns, "id", 30L)
      .collect().map(_.getInt(1)).sorted === Array(0, 1, 2, 3, 4))
  }

  test("truncateToBudget: forward-trim drops an orphaned assistant head; no-system conv works") {
    // no system; turns: user(5), assistant(1), user(1), assistant(1)
    val df = Seq(7L ->
      """[{"role":"user","content":"a very long opening question here"},
         {"role":"assistant","content":"ok"},
         {"role":"user","content":"more"},
         {"role":"assistant","content":"done"}]""".replaceAll("\n\\s*", ""))
      .toDF("id", "j")
    val turns = Conversations.parseTurns(df, "id", "j").repartition(5)
    // budget 3: suffix asst(1)+user(1)+asst(1)=3 fits, user(5)+3 doesn't;
    // block = [assistant, user, assistant] → trim the orphaned head
    val got = Conversations.truncateToBudget(turns, "id", 3L)
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(got === Seq(2 -> "user", 3 -> "assistant"))
  }

  test("truncateToBudget carries extra caller columns through unchanged (splitReasoning composition)") {
    val df = Seq(1L ->
      """[{"role":"system","content":"be brief"},
         {"role":"user","content":"first long question"},
         {"role":"assistant","content":"quite a long answer here"},
         {"role":"user","content":"short one"},
         {"role":"assistant","content":"final short answer"}]""".replaceAll("\n\\s*", ""))
      .toDF("id", "j")
    val turns = Conversations.splitReasoning(Conversations.parseTurns(df, "id", "j"))
    val got = Conversations.truncateToBudget(turns, "id", 8L)
    assert(got.columns.toSeq === turns.columns.toSeq,
      "the docstring promises the input schema UNCHANGED — extra columns survive")
    val byIdx = got.collect().map(r => r.getAs[Int]("turn_idx") -> r.getAs[String]("visible")).toMap
    assert(byIdx.keySet === Set(0, 3, 4))
    assert(byIdx(3) === "short one", "attached column values ride along with the surviving rows")
  }

  test("validate and stats are ONE hash aggregation — a single exchange each") {
    val turns = turnsOf(1L -> good, 2L -> sysLed)
    for (df <- Seq(
        Conversations.validate(turns, "id"),
        Conversations.stats(turns, "id"),
        Conversations.render(turns, "id"))) {
      df.collect()
      // AQE's toString repeats the plan under "== Initial Plan ==" — count
      // exchanges in the final section only
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"expected at most one exchange, plan:\n$plan")
    }
  }
}
