package graft

import graft.operators._
import org.apache.spark.sql.functions.{array, lit, struct}

/** WordPiece + template golden cases
  * (reference tests/test_tokenize_mappers.py:72-121 semantics, with a
  * self-contained vocab; promptsource.py subset). */
class TokenizeTemplateSpec extends SparkSpec {
  import spark.implicits._

  private val vocab: Map[String, Long] = Seq(
    "[PAD]", "[UNK]", "[CLS]", "[SEP]", // 0..3
    "this", "is", "a", "sentence", ".", "un", "##want", "##ed",
    "run", "##ning", ","
  ).zipWithIndex.map { case (t, i) => t -> i.toLong }.toMap
  private val tok = WordPieceTokenizer(vocab)

  test("wordpiece greedy longest-match with ## continuations") {
    assert(tok.encode("unwanted running", false).toSeq ==
      Seq(vocab("un"), vocab("##want"), vocab("##ed"), vocab("run"), vocab("##ning")))
  }

  test("unknown word becomes single UNK") {
    assert(tok.encode("xyzzy", false).toSeq == Seq(vocab("[UNK]")))
  }

  test("punctuation split + lowercase + specials") {
    val ids = tok.encode("This is a sentence.", true).toSeq
    assert(ids == Seq(vocab("[CLS]"), vocab("this"), vocab("is"), vocab("a"),
      vocab("sentence"), vocab("."), vocab("[SEP]")))
  }

  test("decode round trip matches reference golden shape") {
    // mirrors the reference's decoded-string assertion
    // (tests/test_tokenize_mappers.py:76-121); decode applies HF's
    // clean_up_tokenization_spaces, so " ." re-attaches
    val ids = tok.encode("this is a sentence.", true)
    assert(tok.decode(ids.toSeq, skipSpecialTokens = false) ==
      "[CLS] this is a sentence. [SEP]")
    assert(tok.decode(ids.toSeq, skipSpecialTokens = true) ==
      "this is a sentence.")
    assert(tok.decode(tok.encode("unwanted running", false).toSeq, true) ==
      "unwanted running")
  }

  test("TokenizerMapper truncation counts specials like HF") {
    val df = Seq("this is a sentence .").toDF("text")
    val out = TokenizerMapper(tok, "text", maxLength = Some(4), truncation = true)(df)
    val ids = out.select("input_ids").as[Seq[Long]].head()
    assert(ids.size == 4)
    assert(ids.head == vocab("[CLS]") && ids.last == vocab("[SEP]"))
  }

  test("TokenizerMapper: a null element of an array<string> input stays null") {
    val df = Seq(Tuple1(Seq("this is", null))).toDF("texts")
    val out = TokenizerMapper(tok, "texts")(df)
    assert(rows(out.select("input_ids", "attention_mask")).head == Seq(
      List(List(vocab("[CLS]"), vocab("this"), vocab("is"), vocab("[SEP]")), null),
      List(List(1L, 1L, 1L, 1L), null)))
  }

  test("TokenizerMapper adds exactly the columns outputFields declares") {
    val text = Seq((1L, "this is a sentence . unwanted running")).toDF("id", "text")
    val texts = Seq((1L, Seq("this is", "a sentence"))).toDF("id", "text")
    val mappers = Seq(
      TokenizerMapper(tok, "text"),
      TokenizerMapper(tok, "text", addSpecialTokens = false,
        returnAttentionMask = false),
      TokenizerMapper(tok, "text", returnSpecialTokensMask = true),
      TokenizerMapper(tok, "text", returnLength = true, maxLength = Some(4),
        truncation = true),
      TokenizerMapper(tok, "text", maxLength = Some(4),
        returnOverflowingTokens = true, strideOverlap = 1),
      TokenizerMapper(tok, "text", outputPrefix = Some("p"),
        returnSpecialTokensMask = true, returnLength = true),
      TokenizerMapper(tok, "text", returnLength = true, outputRenameMap = Some(
        Map("input_ids" -> "ids", "attention_mask" -> "mask", "length" -> "n"))))
    for (m <- mappers; df <- Seq(text, texts)
        if !(m.returnOverflowingTokens && (df eq texts))) {
      val out = m(df)
      out.collect()
      assert(out.columns.toSeq.diff(df.columns).sorted == m.outputFields.sorted,
        s"$m on ${df.schema("text").dataType}")
    }
  }

  test("EncodeFields offsets are subword-granular char spans") {
    // "unwanted running" → un|##want|##ed run|##ning, each piece covering
    // exactly its own characters (tokenize.py:84-229 offset_mapping)
    val df = Seq("unwanted running").toDF("t")
    val out = EncodeFields(Seq("t"), tok, fieldsToReturnOffsetMapping = Seq("t"))(df)
    val offs = rows(out.select("offset_t")).head.head
    assert(offs == List(List(0L, 2L), List(2L, 6L), List(6L, 8L), List(9L, 12L), List(12L, 16L)))
  }

  test("subword offsets map back through accent-strip normalization") {
    // normalized "unwanted" from "Unwantéd" is same length-in-origin via
    // the per-char index map; piece spans index the ORIGINAL string
    val pieces = tok.encodePieces("Unwantéd")
    assert(pieces.map(_._1).toSeq ==
      Seq(vocab("un"), vocab("##want"), vocab("##ed")))
    assert(pieces.map(p => (p._2, p._3)).toSeq == Seq((0, 2), (2, 6), (6, 8)))
  }

  test("encodeWords yields word_ids and per-word relative offsets") {
    val (ids, wids, offs) = tok.encodeWords(Seq("unwanted", "running"))
    assert(ids.toSeq == Seq(vocab("un"), vocab("##want"), vocab("##ed"),
      vocab("run"), vocab("##ning")))
    assert(wids.toSeq == Seq(0, 0, 0, 1, 1))
    assert(offs.toSeq == Seq((0, 2), (2, 6), (6, 8), (0, 3), (3, 7)))
  }

  test("MiniJinja: vars, filters, for, if, ||| split") {
    val t = MiniJinja.parse(
      "{% for w in ws %}{{ w | upper }},{% endfor %}" +
        "{% if n > 2 %}big{% elif n == 2 %}two{% else %}small{% endif %}" +
        "|||{{ label }}"
    )
    assert(t.variables == Set("ws", "n", "label"))
    val out = t.render(Map("ws" -> Seq("a", "b"), "n" -> 2L, "label" -> "yes"))
    assert(out == "A,B,two|||yes")
  }

  test("MiniJinja promptsource-community filters: replace/default/truncate/int/string") {
    val t = MiniJinja.parse(
      "{{ s | replace('a', 'o') }}/{{ missing | default('none') }}" +
        "/{{ empty | default('fallback', true) }}" +
        "/{{ long | truncate(12) }}/{{ long | truncate(8, true, '…') }}" +
        "/{{ long | truncate(10, false, '...', 0) }}" +
        "/{{ numstr | int }}/{{ junk | int(7) }}/{{ n | string | length }}"
    )
    val out = t.render(Map(
      "s" -> "banana",
      "empty" -> "",
      "long" -> "alpha beta gamma",
      "numstr" -> " 42 ",
      "junk" -> "xyz",
      "n" -> 1234L
    ))
    // truncate(12): 16 chars is within length+leeway(5) → untouched;
    // killwords cuts mid-word; leeway=0 forces the word-boundary cut
    assert(out == "bonono/none/fallback/alpha beta gamma/alpha b…/alpha.../42/7/4")
  }

  test("MiniJinja {% set %}...{% endset %} block assignment: body renders " +
    "to a string, scoped like set-expression") {
    val t = MiniJinja.parse(
      "{% set intro %}Dear {{ name | title }},{% endset %}" +
        "{{ intro }} {{ intro | length }}")
    assert(t.variables == Set("name"))
    assert(t.render(Map("name" -> "ada")) == "Dear Ada, 9")
    // unclosed block rejects at parse time
    intercept[IllegalArgumentException] {
      MiniJinja.parse("{% set x %}no end")
    }
  }

  test("MiniJinja map/select filter family") {
    // map('filter'), map(attribute=...), join after map
    val t1 = MiniJinja.parse("{{ ws | map('upper') | join('-') }}")
    assert(t1.render(Map("ws" -> Seq("a", "b"))) == "A-B")
    val t2 = MiniJinja.parse(
      "{{ people | map(attribute='name') | join(', ') }}")
    assert(t2.render(Map("people" -> Seq(
      Map("name" -> "ann"), Map("name" -> "bo")))) == "ann, bo")
    // select/reject: truthy and equalto test forms
    val t3 = MiniJinja.parse(
      "{{ xs | select | join(',') }}/{{ xs | reject | length }}" +
        "/{{ ns | select('equalto', 2) | length }}" +
        "/{{ ns | reject('ne', 2) | join(',') }}" +
        "/{{ ns | select('odd') | join(',') }}")
    assert(t3.render(Map(
      "xs" -> Seq("a", "", "b"),
      "ns" -> Seq(1L, 2L, 2L, 3L))) == "a,b/1/2/2,2/1,3")
    // selectattr/rejectattr with and without a test
    val t4 = MiniJinja.parse(
      "{{ rows | selectattr('ok') | map(attribute='v') | join(',') }}" +
        "/{{ rows | rejectattr('ok') | length }}" +
        "/{{ rows | selectattr('v', 'equalto', 'y') | length }}")
    assert(t4.render(Map("rows" -> Seq(
      Map("ok" -> true, "v" -> "x"),
      Map("ok" -> false, "v" -> "y"),
      Map("ok" -> true, "v" -> "z")))) == "x,z/1/1")
    // list / unique / sum (plain and attribute forms)
    val t5 = MiniJinja.parse(
      "{{ s | list | length }}/{{ ds | unique | join(',') }}" +
        "/{{ ns | sum }}/{{ rows | sum(attribute='n') }}")
    assert(t5.render(Map(
      "s" -> "abc",
      "ds" -> Seq("b", "a", "b"),
      "ns" -> Seq(1L, 2L, 3L),
      "rows" -> Seq(Map("n" -> 10L), Map("n" -> 5L)))) == "3/b,a/6/15")
    // supported test names work inside select too
    assert(MiniJinja.parse("{{ xs | select('divisibleby', 3) | length }}")
      .render(Map("xs" -> Seq(3L, 4L, 9L))) == "2")
    // unsupported test still rejects with a clear error
    val e = intercept[IllegalArgumentException] {
      MiniJinja.parse("{{ xs | select('greaterthan', 3) | length }}")
        .render(Map("xs" -> Seq(1L)))
    }
    assert(e.getMessage.contains("greaterthan"))
  }

  test("MiniJinja `is` tests: defined/none/equalto/odd/string, negated " +
    "forms, and precedence under not/and") {
    val t = MiniJinja.parse(
      "{% if x is defined %}D{% endif %}" +
        "{% if y is not defined %}U{% endif %}" +
        "{% if x is none %}N{% else %}V{% endif %}" +
        "{% if n is odd %}O{% endif %}" +
        "{% if n is equalto(3) %}E{% endif %}" +
        "{% if s is string and n is number %}SN{% endif %}" +
        "{% if xs is iterable %}I{% endif %}" +
        "{% if n is divisibleby(3) %}3{% endif %}")
    assert(t.variables == Set("x", "y", "n", "s", "xs"))
    assert(t.render(Map("x" -> "v", "n" -> 3L, "s" -> "a",
      "xs" -> Seq(1L))) == "DUVOESNI3")
    // unknown test rejects with the test's name in the message
    val e = intercept[IllegalArgumentException] {
      MiniJinja.parse("{{ 1 is lower_than(2) }}").render(Map.empty)
    }
    assert(e.getMessage.contains("lower_than"))
  }

  test("MiniJinja {% set %}: binds for the rest of the block, scoped inside for") {
    val t = MiniJinja.parse(
      "{% set n = ws | length %}n={{ n }};" +
        "{% for w in ws %}{% set u = w | upper %}{{ u }},{% endfor %}" +
        "after={{ u | default('gone') }}"
    )
    // `u` after the for-block is genuinely free (Jinja block scoping:
    // the inner set doesn't leak), so variables() must report it
    assert(t.variables == Set("ws", "u"))
    val out = t.render(Map("ws" -> Seq("a", "b")))
    assert(out == "n=2;A,B,after=gone")
  }

  test("MiniJinja in/not-in membership, ~ concat, list aggregate filters") {
    val t = MiniJinja.parse(
      "{% if w in ws %}yes{% else %}no{% endif %}" +
        "|{% if 'z' not in s %}clean{% endif %}" +
        "|{{ a ~ '-' ~ b }}" +
        "|{{ ns | min }}..{{ ns | max }}={{ ns | sum }}" +
        "|{{ ns | sort | join(',') }}"
    )
    val out = t.render(Map(
      "w" -> "b", "ws" -> Seq("a", "b"), "s" -> "abc",
      "a" -> "x", "b" -> 7L, "ns" -> Seq(3L, 1L, 2L)
    ))
    assert(out == "yes|clean|x-7|1..3=6|1,2,3")
    // quoted '~' in filter args is NOT a concat operator
    val t2 = MiniJinja.parse("{{ s | replace('a', '~') }}")
    assert(t2.render(Map("s" -> "abc")) == "~bc")
  }

  test("MiniJinja precedence: ~ binds tighter than comparisons (Jinja2)") {
    // a ~ b == c must parse as (a ~ b) == c, not a ~ (b == c)
    val t = MiniJinja.parse(
      "{% if a ~ b == 'x7' %}eq{% else %}ne{% endif %}" +
        "|{% if a ~ b in ws %}in{% else %}out{% endif %}" +
        "|{% if s | length ~ '' == '3' %}len3{% endif %}"
    )
    val out = t.render(Map(
      "a" -> "x", "b" -> 7L, "ws" -> Seq("x7", "q"), "s" -> "abc"))
    assert(out == "eq|in|len3")
    // comparison operators inside string literals are not split points
    val t2 = MiniJinja.parse("{% if s == 'a<b' %}lit{% endif %}")
    assert(t2.render(Map("s" -> "a<b")) == "lit")
  }

  test("MiniJinja nested/quoted bracket accessors parse to the matching ]") {
    val t = MiniJinja.parse("{{ xs[ys[0]] }}|{{ m['k]x' ] }}")
    val out = t.render(Map(
      "xs" -> Seq("a", "b", "c"), "ys" -> Seq(2L),
      "m" -> Map("k]x" -> "v")))
    assert(out == "c|v")
  }

  test("MiniJinja numeric/word filters: title/wordcount/abs/round") {
    val t = MiniJinja.parse(
      "{{ s | title }}|{{ s | wordcount }}|{{ n | abs }}|{{ x | round }}|{{ x | round(2) }}"
    )
    val out = t.render(Map("s" -> "the fast key", "n" -> -7L, "x" -> 2.345))
    assert(out == "The Fast Key|3|7|2|2.35")
  }

  test("MiniJinja index and slice accessors (python semantics)") {
    val t = MiniJinja.parse(
      "{{ xs[0] }} {{ xs[-1] }} {{ xs[1:3] | join('-') }} " +
        "{{ s[2:] }} {{ s[:3] }} {{ s[-2:] }} {{ xs[5:9] | length }}"
    )
    val out = t.render(Map("xs" -> Seq("a", "b", "c", "d"), "s" -> "hello"))
    assert(out == "a d b-c llo hel lo 0")
  }

  test("MiniJinja loop variable: index/index0/revindex/first/last/length") {
    val t = MiniJinja.parse(
      "{% for x in xs %}{{ loop.index }}/{{ loop.length }}:{{ x }}" +
        "{% if not loop.last %}, {% endif %}{% endfor %}" +
        "|{% for x in xs %}{% if loop.first %}[{{ loop.revindex }}]{% endif %}{% endfor %}"
    )
    val out = t.render(Map("xs" -> Seq("a", "b", "c")))
    assert(out == "1/3:a, 2/3:b, 3/3:c|[3]")
    // nested loops: inner `loop` shadows outer, restored on exit
    val t2 = MiniJinja.parse(
      "{% for r in rs %}{% for c in r %}{{ loop.index0 }}{% endfor %};{{ loop.index }}{% endfor %}")
    assert(t2.render(Map("rs" -> Seq(Seq("x", "y"), Seq("z")))) == "01;10;2")
  }

  test("MiniJinja boolean operators: and/or/not with Jinja precedence") {
    val t = MiniJinja.parse(
      "{% if a and not b %}A{% endif %}" +
        "{% if b or c == 'x' %}B{% endif %}" +
        "{% if not a == b %}C{% endif %}" + // not (a == b)
        "{% if b and a or a %}D{% endif %}" + // (b and a) or a
        "{% if 'y' not in c and a %}E{% endif %}"
    )
    val out = t.render(Map("a" -> true, "b" -> false, "c" -> "x"))
    assert(out == "ABCDE")
    // python repr for rendered booleans (Jinja2 prints True/False)
    assert(MiniJinja.parse("{{ a }}/{{ b }}").render(
      Map("a" -> true, "b" -> false)) == "True/False")
  }

  test("MiniJinja whitespace control: {%- -%} / {{- -}} trim adjacent text") {
    val t = MiniJinja.parse(
      "a  {%- if x %}  b  {%- endif %}\n{{- y -}}  c")
    assert(t.render(Map("x" -> true, "y" -> "Y")) == "a  bYc")
    // without markers the whitespace is preserved
    val t2 = MiniJinja.parse("a  {% if x %}b{% endif %}")
    assert(t2.render(Map("x" -> true)) == "a  b")
    // loop bodies: the classic newline-free list pattern
    val t3 = MiniJinja.parse(
      "{% for w in ws %}\n  {{- w }},\n{%- endfor %}")
    assert(t3.render(Map("ws" -> Seq("p", "q"))) == "p,q,")
  }

  test("MiniJinja expression semantics: tricky precedence golden table") {
    val vars = Map("a" -> true, "b" -> false, "s" -> "ab",
      "xs" -> Seq("x", "y"), "n" -> 3L)
    def r(cond: String): String =
      MiniJinja.parse(s"{% if $cond %}T{% else %}F{% endif %}").render(vars)
    assert(r("not a and b") == "F")       // (not a) and b
    assert(r("not b and a") == "T")
    assert(r("a or b and b") == "T")      // a or (b and b)
    assert(r("b and b or a") == "T")      // (b and b) or a
    assert(r("'x' in xs and a") == "T")   // membership before and
    assert(r("s ~ 'c' == 'abc'") == "T")  // concat before comparison
    assert(r("n ~ '' == '3'") == "T")
    assert(r("'a' in s ~ 'z'") == "T")    // 'a' in (s ~ 'z') = 'abz'
    assert(r("not s == 'zz'") == "T")     // not (s == 'zz')
    assert(r("not 'a' in s") == "F")      // not ('a' in s)
    assert(r("not a or a") == "T")        // (not a) or a
    assert(r("s | length == 2 and a") == "T") // filter > cmp > and
  }

  test("MiniJinja rejects unsupported constructs with clear error") {
    val e = intercept[IllegalArgumentException](MiniJinja.parse("{% macro x %}"))
    assert(e.getMessage.contains("macro")) // malformed: no parens
    val e2 = intercept[IllegalArgumentException](MiniJinja.parse("{% raw %}x{% endraw %}"))
    assert(e2.getMessage.contains("Unsupported Jinja construct"))
  }

  test("MiniJinja macro: definition, call, defaults, loop body") {
    // Jinja2 golden: macros render to '' at the def site, calls expand
    val t = MiniJinja.parse(
      "{% macro qa(q, a='N/A') %}Q: {{ q }} A: {{ a }}{% endmacro %}" +
        "{{ qa(question, answer) }}|{{ qa(question) }}")
    assert(t.render(Map("question" -> "x?", "answer" -> "y")) ==
      "Q: x? A: y|Q: x? A: N/A")
    // inferred input fields exclude the macro name and its params
    assert(t.variables == Set("question", "answer"))
    // macro body may contain loops/ifs; arguments are full expressions
    val t2 = MiniJinja.parse(
      "{% macro bullets(xs) %}{% for x in xs %}- {{ x }}\n{% endfor %}{% endmacro %}" +
        "{{ bullets(items[:2]) }}")
    assert(t2.render(Map("items" -> Seq("a", "b", "c"))) == "- a\n- b\n")
    // closure over the definition scope (Jinja2 semantics)
    val t3 = MiniJinja.parse(
      "{% set sep = '/' %}{% macro j(a, b) %}{{ a }}{{ sep }}{{ b }}{% endmacro %}" +
        "{{ j('x', 'y') }}")
    assert(t3.render(Map.empty) == "x/y")
    // recursion resolves (the name is visible to its own body) + guard
    val t4 = MiniJinja.parse(
      "{% macro count(n) %}{{ n }}{% if n > 1 %},{{ count(n - 1) }}{% endif %}{% endmacro %}" +
        "{{ count(3) }}")
    assert(t4.render(Map.empty) == "3,2,1")
    val deep = MiniJinja.parse(
      "{% macro f(n) %}{{ f(n) }}{% endmacro %}{{ f(1) }}")
    val e = intercept[IllegalArgumentException](deep.render(Map.empty))
    assert(e.getMessage.contains("recursion"))
    // arity errors are clear
    val e2 = intercept[IllegalArgumentException](
      MiniJinja.parse("{% macro m(a) %}{{ a }}{% endmacro %}{{ m(1, 2) }}")
        .render(Map.empty))
    assert(e2.getMessage.contains("argument"))
    val e3 = intercept[IllegalArgumentException](
      MiniJinja.parse("{% macro m(a, b) %}{{ b }}{% endmacro %}{{ m(1) }}")
        .render(Map.empty))
    assert(e3.getMessage.contains("missing argument"))
    // calling an undefined name is an eval-time error, not silent ''
    val e4 = intercept[IllegalArgumentException](
      MiniJinja.parse("{{ nope(1) }}").render(Map.empty))
    assert(e4.getMessage.contains("Unknown callable"))
  }

  test("MiniJinja range() builtin and filter blocks") {
    assert(MiniJinja.parse("{% for i in range(3) %}{{ i }}{% endfor %}")
      .render(Map.empty) == "012")
    assert(MiniJinja.parse("{{ range(2, 5) | join('-') }}")
      .render(Map.empty) == "2-3-4")
    assert(MiniJinja.parse("{{ range(6, 0, -2) | join(',') }}")
      .render(Map.empty) == "6,4,2")
    assert(MiniJinja.parse("{% filter upper %}a{{ x }}c{% endfilter %}")
      .render(Map("x" -> "b")) == "ABC")
    assert(MiniJinja.parse("{% filter replace('a', 'o') %}bat{% endfilter %}")
      .render(Map.empty) == "bot")
    // macros compose with n-gram style loops: count 2-grams via range
    val t = MiniJinja.parse(
      "{% macro gram(ws, i) %}{{ ws[i] }} {{ ws[i + 1] }}{% endmacro %}" +
        "{% for i in range(words | length - 1) %}[{{ gram(words, i) }}]{% endfor %}")
    assert(t.render(Map("words" -> Seq("a", "b", "c"))) == "[a b][b c]")
  }

  test("bundled promptsource pack: squad key renders the reference golden") {
    // reference resolution of (squad, given_context_answer_question_variation)
    // — tests/test_promptsource.py:64-88
    val df = Seq(
      ("What is the capital of France?", "Paris is the capital of France.")
    ).toDF("question", "context")
      .withColumn("answers", struct(
        array(lit("Paris")).as("text"), array(lit(0L)).as("answer_start")))
    val out = PromptsourceMapper(TemplateRegistry.builtin,
      datasetName = "squad",
      templateName = "given_context_answer_question_variation")(df)
      .select("source", "target").head()
    assert(out.getString(0) ==
      "Paris is the capital of France.\n\nQ: What is the capital of France?\n\nA:")
    assert(out.getString(1) == "Paris")
  }

  test("promptsource answer_choices: label indexes the rendered choices list") {
    val df = Seq(("stocks rallied today", 2L), ("the match was won", 1L))
      .toDF("text", "label")
    val got = PromptsourceMapper(TemplateRegistry.builtin,
      datasetName = "ag_news", templateName = "classify_question_first")(df)
      .select("label", "source", "target").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(2L)._2 == "Business")
    assert(got(1L)._2 == "Sports")
    assert(got(2L)._1 ==
      "What label best describes this news article?\nstocks rallied today")
  }

  test("JinjaMapper renders source/target per row") {
    val df = Seq(("hi", "en"), ("yo", "fr")).toDF("text", "lang")
    val out = JinjaMapper("{{ text | upper }}!|||{{ lang }}")(df)
      .select("source", "target")
    assert(rows(out).toSet == Set(Seq("HI!", "en"), Seq("YO!", "fr")))
  }

  test("FewShotJinja accumulates shots + query") {
    val df = (1 to 6).map(i => (i.toLong, s"t$i")).toDF("id", "text")
    val out = FewShotJinjaMapper(
      "{% for s in __shots__ %}[{{ s.text }}]{% endfor %}{{ text }}",
      numShots = 2,
      orderBy = Seq("id")
    )(df).select("source")
    assert(
      rows(out).map(_.head).toSet == Set("[t1][t2]t3", "[t4][t5]t6")
    )
  }

  test("FillTextPrompt with {{-style escapes") {
    val df = Seq(("x", "y")).toDF("a", "b")
    val out = FillTextPrompt("{{lit}} {a}-{b}", "p")(df)
    assert(rows(out.select("p")).head.head == "{lit} x-y")
  }
}

/** Collator golden cases (reference tests/test_collators.py:22-40 /
  * FIXTURES.md §2). */
class CollatorSpec extends SparkSpec {
  import spark.implicits._

  test("ListCollator pads batch to max length (FIXTURES §2 golden)") {
    // a lengths 3,2,5 → padded to 5 with -1; b lengths 2,1,1 → padded to 2 with -2
    val df = Seq(
      (Seq(Seq(1L, 1L, 1L), Seq(2L, 2L), Seq(3L, 3L, 3L, 3L, 3L)),
        Seq(Seq(7L, 7L), Seq(8L), Seq(9L)))
    ).toDF("a", "b")
    val out = ListCollator(Map("a" -> -1L, "b" -> -2L))(df)
    val r = rows(out).head
    assert(r(0) == List(
      List(1L, 1L, 1L, -1L, -1L), List(2L, 2L, -1L, -1L, -1L),
      List(3L, 3L, 3L, 3L, 3L)))
    assert(r(1) == List(List(7L, 7L), List(8L, -2L), List(9L, -2L)))
  }

  test("padToMultipleOf rounds target length up") {
    val df = Seq(Tuple1(Seq(Seq(1L, 1L, 1L)))).toDF("a")
    val out = ListCollator(Map("a" -> 0L), padToMultipleOf = Some(4))(df)
    assert(rows(out).head.head == List(List(1L, 1L, 1L, 0L)))
  }

  test("left padding") {
    val df = Seq(Tuple1(Seq(Seq(1L), Seq(2L, 2L)))).toDF("a")
    val out = ListCollator(Map("a" -> 0L), leftPadFields = Seq("a"))(df)
    assert(rows(out).head.head == List(List(0L, 1L), List(2L, 2L)))
  }

  test("batch pipeline: FixedBatchSize >> ListCollator is rectangular") {
    val df = Seq(
      Seq(1L, 1L, 1L), Seq(2L, 2L), Seq(3L, 3L, 3L, 3L, 3L),
      Seq(4L), Seq(5L, 5L)
    ).zipWithIndex.map { case (xs, i) => (i.toLong, xs) }.toDF("id", "xs")
    val out = (FixedBatchSize(3, keepLast = true, orderBy = Seq("id")) >>
      ListCollator(Map("xs" -> -1L)))(df)
    val batches = rows(out.select("xs")).map(_.head.asInstanceOf[List[List[Long]]])
    assert(batches.size == 2)
    batches.foreach { b =>
      assert(b.map(_.size).distinct.size == 1) // rectangular
    }
  }
}
