package graft

import graft.operators.{MiniJinja, TemplateRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** Parse-tree pin for [[MiniJinja]]: each template below parses to the
  * recorded `Template.toString`, and each malformed one fails with the
  * recorded message. The tables were recorded from the parser that had
  * one hand-written quote-and-bracket loop per top-level search; they
  * pin that any rewrite of those searches keeps every tree and every
  * error. Record new rows from a parser known to be right; never edit a
  * row to follow a parser change. */
class MiniJinjaParitySpec extends AnyFunSuite {
  import MiniJinjaParitySpec._

  test("MiniJinja: registry, catalog and edge-case templates parse to the pinned trees") {
    trees.foreach { case (src, tree) =>
      assert(MiniJinja.parse(src, includes).toString == tree, s"template: $src")
    }
  }

  test("MiniJinja: the tree pin covers every builtin template, whole and split at |||") {
    val reg = TemplateRegistry.builtin
    val pinned = trees.map(_._1).toSet
    (reg.templates.values ++ reg.answerChoices.values).foreach { t =>
      (t +: t.split("\\|\\|\\|").map(_.trim).toSeq).foreach { src =>
        assert(pinned.contains(src), s"unpinned builtin template: $src")
      }
    }
  }

  test("MiniJinja: malformed templates fail with the pinned messages") {
    malformed.foreach { case (src, msg) =>
      val e = intercept[IllegalArgumentException](MiniJinja.parse(src, includes))
      assert(e.getMessage == msg, s"template: $src")
    }
  }
}

object MiniJinjaParitySpec {

  /** The include registry of q270_jinja_include. */
  val includes: Map[String, String] =
    Map("header" -> "[doc {{ doc_id }} | {{ lang }}]")

  /** template -> `MiniJinja.parse(template, includes).toString` */
  val trees: Seq[(String, String)] = Seq(
    // TemplateRegistry.builtin: every template and answer-choices template, whole and split at |||
    "{{text}}\n\nGive a title for the article above.|||{{title | default('')}}" ->
      "Template(List(Output(Ref(List(text))), Text(\n\nGive a title for the article above.|||), Output(Filtered(Ref(List(title)),default,List()))))",
    "{{text}}\n\nGive a title for the article above." ->
      "Template(List(Output(Ref(List(text))), Text(\n\nGive a title for the article above.)))",
    "{{title | default('')}}" ->
      "Template(List(Output(Filtered(Ref(List(title)),default,List()))))",
    "What label best describes this news article?\n{{text}}|||{{answer_choices[label]}}" ->
      "Template(List(Text(What label best describes this news article?\n), Output(Ref(List(text))), Text(|||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "What label best describes this news article?\n{{text}}" ->
      "Template(List(Text(What label best describes this news article?\n), Output(Ref(List(text)))))",
    "{{answer_choices[label]}}" ->
      "Template(List(Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "World politics ||| Sports ||| Business ||| Science and technology" ->
      "Template(List(Text(World politics ||| Sports ||| Business ||| Science and technology)))",
    "World politics" ->
      "Template(List(Text(World politics)))",
    "Sports" ->
      "Template(List(Text(Sports)))",
    "Business" ->
      "Template(List(Text(Business)))",
    "Science and technology" ->
      "Template(List(Text(Science and technology)))",
    "{{premise}}\nQuestion: {{hypothesis}} True, False, or Neither? |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(premise))), Text(\nQuestion: ), Output(Ref(List(hypothesis))), Text( True, False, or Neither? |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{premise}}\nQuestion: {{hypothesis}} True, False, or Neither?" ->
      "Template(List(Output(Ref(List(premise))), Text(\nQuestion: ), Output(Ref(List(hypothesis))), Text( True, False, or Neither?)))",
    "{{ answer_choices[label] }}" ->
      "Template(List(Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "True ||| Neither ||| False" ->
      "Template(List(Text(True ||| Neither ||| False)))",
    "True" ->
      "Template(List(Text(True)))",
    "Neither" ->
      "Template(List(Text(Neither)))",
    "False" ->
      "Template(List(Text(False)))",
    "{{passage}}\n\nQuestion: {{question}}?\nAnswer: |||{{answer | default('')}}" ->
      "Template(List(Output(Ref(List(passage))), Text(\n\nQuestion: ), Output(Ref(List(question))), Text(?\nAnswer: |||), Output(Filtered(Ref(List(answer)),default,List()))))",
    "{{passage}}\n\nQuestion: {{question}}?\nAnswer:" ->
      "Template(List(Output(Ref(List(passage))), Text(\n\nQuestion: ), Output(Ref(List(question))), Text(?\nAnswer:)))",
    "{{answer | default('')}}" ->
      "Template(List(Output(Filtered(Ref(List(answer)),default,List()))))",
    "Put the concepts together to form a sentence: {{ concepts | join(\", \") }}.|||{{target}}" ->
      "Template(List(Text(Put the concepts together to form a sentence: ), Output(Filtered(Ref(List(concepts)),join,List(, ))), Text(.|||), Output(Ref(List(target)))))",
    "Put the concepts together to form a sentence: {{ concepts | join(\", \") }}." ->
      "Template(List(Text(Put the concepts together to form a sentence: ), Output(Filtered(Ref(List(concepts)),join,List(, ))), Text(.)))",
    "{{target}}" ->
      "Template(List(Output(Ref(List(target)))))",
    "Read the following context and answer the question.\nContext: {{context}}\nQuestion: {{question}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Text(Read the following context and answer the question.\nContext: ), Output(Ref(List(context))), Text(\nQuestion: ), Output(Ref(List(question))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "Read the following context and answer the question.\nContext: {{context}}\nQuestion: {{question}}\nAnswer:" ->
      "Template(List(Text(Read the following context and answer the question.\nContext: ), Output(Ref(List(context))), Text(\nQuestion: ), Output(Ref(List(question))), Text(\nAnswer:)))",
    "{{answer0}} ||| {{answer1}} ||| {{answer2}} ||| {{answer3}}" ->
      "Template(List(Output(Ref(List(answer0))), Text( ||| ), Output(Ref(List(answer1))), Text( ||| ), Output(Ref(List(answer2))), Text( ||| ), Output(Ref(List(answer3)))))",
    "{{answer0}}" ->
      "Template(List(Output(Ref(List(answer0)))))",
    "{{answer1}}" ->
      "Template(List(Output(Ref(List(answer1)))))",
    "{{answer2}}" ->
      "Template(List(Output(Ref(List(answer2)))))",
    "{{answer3}}" ->
      "Template(List(Output(Ref(List(answer3)))))",
    "{{content}}\nGiven a list of categories: {{\"company, educational institution, artist, athlete, office holder, mean of transportation, building, natural place, village, animal, plant, album, film or written work\"}}, what category does the paragraph belong to? |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(content))), Text(\nGiven a list of categories: ), Output(Lit(company, educational institution, artist, athlete, office holder, mean of transportation, building, natural place, village, animal, plant, album, film or written work)), Text(, what category does the paragraph belong to? |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{content}}\nGiven a list of categories: {{\"company, educational institution, artist, athlete, office holder, mean of transportation, building, natural place, village, animal, plant, album, film or written work\"}}, what category does the paragraph belong to?" ->
      "Template(List(Output(Ref(List(content))), Text(\nGiven a list of categories: ), Output(Lit(company, educational institution, artist, athlete, office holder, mean of transportation, building, natural place, village, animal, plant, album, film or written work)), Text(, what category does the paragraph belong to?)))",
    "company ||| educational institution ||| artist ||| athlete ||| office holder ||| mean of transportation ||| building ||| natural place ||| village ||| animal ||| plant ||| album ||| film ||| written work" ->
      "Template(List(Text(company ||| educational institution ||| artist ||| athlete ||| office holder ||| mean of transportation ||| building ||| natural place ||| village ||| animal ||| plant ||| album ||| film ||| written work)))",
    "company" ->
      "Template(List(Text(company)))",
    "educational institution" ->
      "Template(List(Text(educational institution)))",
    "artist" ->
      "Template(List(Text(artist)))",
    "athlete" ->
      "Template(List(Text(athlete)))",
    "office holder" ->
      "Template(List(Text(office holder)))",
    "mean of transportation" ->
      "Template(List(Text(mean of transportation)))",
    "building" ->
      "Template(List(Text(building)))",
    "natural place" ->
      "Template(List(Text(natural place)))",
    "village" ->
      "Template(List(Text(village)))",
    "animal" ->
      "Template(List(Text(animal)))",
    "plant" ->
      "Template(List(Text(plant)))",
    "album" ->
      "Template(List(Text(album)))",
    "film" ->
      "Template(List(Text(film)))",
    "written work" ->
      "Template(List(Text(written work)))",
    "Write a title for this sentence: {{document}}\nTitle: |||{{summary}}" ->
      "Template(List(Text(Write a title for this sentence: ), Output(Ref(List(document))), Text(\nTitle: |||), Output(Ref(List(summary)))))",
    "Write a title for this sentence: {{document}}\nTitle:" ->
      "Template(List(Text(Write a title for this sentence: ), Output(Ref(List(document))), Text(\nTitle:)))",
    "{{summary}}" ->
      "Template(List(Output(Ref(List(summary)))))",
    "Are the following two sentences {{\"equivalent\"}} or {{\"not equivalent\"}}?\n{{sentence1}}\n{{sentence2}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Text(Are the following two sentences ), Output(Lit(equivalent)), Text( or ), Output(Lit(not equivalent)), Text(?\n), Output(Ref(List(sentence1))), Text(\n), Output(Ref(List(sentence2))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "Are the following two sentences {{\"equivalent\"}} or {{\"not equivalent\"}}?\n{{sentence1}}\n{{sentence2}}\nAnswer:" ->
      "Template(List(Text(Are the following two sentences ), Output(Lit(equivalent)), Text( or ), Output(Lit(not equivalent)), Text(?\n), Output(Ref(List(sentence1))), Text(\n), Output(Ref(List(sentence2))), Text(\nAnswer:)))",
    "not equivalent ||| equivalent" ->
      "Template(List(Text(not equivalent ||| equivalent)))",
    "not equivalent" ->
      "Template(List(Text(not equivalent)))",
    "equivalent" ->
      "Template(List(Text(equivalent)))",
    "Are these two questions asking the same thing?\nQuestion 1: {{question1}}\nQuestion 2: {{question2}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Text(Are these two questions asking the same thing?\nQuestion 1: ), Output(Ref(List(question1))), Text(\nQuestion 2: ), Output(Ref(List(question2))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "Are these two questions asking the same thing?\nQuestion 1: {{question1}}\nQuestion 2: {{question2}}\nAnswer:" ->
      "Template(List(Text(Are these two questions asking the same thing?\nQuestion 1: ), Output(Ref(List(question1))), Text(\nQuestion 2: ), Output(Ref(List(question2))), Text(\nAnswer:)))",
    "no ||| yes" ->
      "Template(List(Text(no ||| yes)))",
    "no" ->
      "Template(List(Text(no)))",
    "yes" ->
      "Template(List(Text(yes)))",
    "{{sentence}}\nQuestion: Was that sentence {{\"positive\"}} or {{\"negative\"}}?\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(sentence))), Text(\nQuestion: Was that sentence ), Output(Lit(positive)), Text( or ), Output(Lit(negative)), Text(?\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{sentence}}\nQuestion: Was that sentence {{\"positive\"}} or {{\"negative\"}}?\nAnswer:" ->
      "Template(List(Output(Ref(List(sentence))), Text(\nQuestion: Was that sentence ), Output(Lit(positive)), Text( or ), Output(Lit(negative)), Text(?\nAnswer:)))",
    "negative ||| positive" ->
      "Template(List(Text(negative ||| positive)))",
    "negative" ->
      "Template(List(Text(negative)))",
    "positive" ->
      "Template(List(Text(positive)))",
    "Complete the description with an appropriate ending:\nFirst, {{ ctx_a.lower() }} Then, {{ ctx_b.lower() }} ...\n|||{{ answer_choices[label | int] }}" ->
      "Template(List(Text(Complete the description with an appropriate ending:\nFirst, ), Output(Filtered(Ref(List(ctx_a)),lower,List())), Text( Then, ), Output(Filtered(Ref(List(ctx_b)),lower,List())), Text( ...\n|||), Output(Index(Ref(List(answer_choices)),Filtered(Ref(List(label)),int,List())))))",
    "Complete the description with an appropriate ending:\nFirst, {{ ctx_a.lower() }} Then, {{ ctx_b.lower() }} ..." ->
      "Template(List(Text(Complete the description with an appropriate ending:\nFirst, ), Output(Filtered(Ref(List(ctx_a)),lower,List())), Text( Then, ), Output(Filtered(Ref(List(ctx_b)),lower,List())), Text( ...)))",
    "{{ answer_choices[label | int] }}" ->
      "Template(List(Output(Index(Ref(List(answer_choices)),Filtered(Ref(List(label)),int,List())))))",
    "{{ ending0 }} ||| {{ ending1 }} ||| {{ ending2 }} ||| {{ ending3 }}" ->
      "Template(List(Output(Ref(List(ending0))), Text( ||| ), Output(Ref(List(ending1))), Text( ||| ), Output(Ref(List(ending2))), Text( ||| ), Output(Ref(List(ending3)))))",
    "{{ ending0 }}" ->
      "Template(List(Output(Ref(List(ending0)))))",
    "{{ ending1 }}" ->
      "Template(List(Output(Ref(List(ending1)))))",
    "{{ ending2 }}" ->
      "Template(List(Output(Ref(List(ending2)))))",
    "{{ ending3 }}" ->
      "Template(List(Output(Ref(List(ending3)))))",
    "{{text}}\nThe sentiment expressed for the movie is |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(text))), Text(\nThe sentiment expressed for the movie is |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{text}}\nThe sentiment expressed for the movie is" ->
      "Template(List(Output(Ref(List(text))), Text(\nThe sentiment expressed for the movie is)))",
    "{{text}}\nHow does the reviewer feel about the movie? |||{{sentiment | default('')}}" ->
      "Template(List(Output(Ref(List(text))), Text(\nHow does the reviewer feel about the movie? |||), Output(Filtered(Ref(List(sentiment)),default,List()))))",
    "{{text}}\nHow does the reviewer feel about the movie?" ->
      "Template(List(Output(Ref(List(text))), Text(\nHow does the reviewer feel about the movie?)))",
    "{{sentiment | default('')}}" ->
      "Template(List(Output(Filtered(Ref(List(sentiment)),default,List()))))",
    "Determine if the following two sentences paraphrase each other or not.\nSent 1: {{sentence1}}\nSent 2: {{sentence2}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Text(Determine if the following two sentences paraphrase each other or not.\nSent 1: ), Output(Ref(List(sentence1))), Text(\nSent 2: ), Output(Ref(List(sentence2))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "Determine if the following two sentences paraphrase each other or not.\nSent 1: {{sentence1}}\nSent 2: {{sentence2}}\nAnswer:" ->
      "Template(List(Text(Determine if the following two sentences paraphrase each other or not.\nSent 1: ), Output(Ref(List(sentence1))), Text(\nSent 2: ), Output(Ref(List(sentence2))), Text(\nAnswer:)))",
    "No ||| Yes" ->
      "Template(List(Text(No ||| Yes)))",
    "No" ->
      "Template(List(Text(No)))",
    "Yes" ->
      "Template(List(Text(Yes)))",
    "Goal: {{goal}}\nWhich is the correct ending?\n- {{sol1}}\n- {{sol2}}\n\nAnswer: |||{{answer_choices[label]}}" ->
      "Template(List(Text(Goal: ), Output(Ref(List(goal))), Text(\nWhich is the correct ending?\n- ), Output(Ref(List(sol1))), Text(\n- ), Output(Ref(List(sol2))), Text(\n\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "Goal: {{goal}}\nWhich is the correct ending?\n- {{sol1}}\n- {{sol2}}\n\nAnswer:" ->
      "Template(List(Text(Goal: ), Output(Ref(List(goal))), Text(\nWhich is the correct ending?\n- ), Output(Ref(List(sol1))), Text(\n- ), Output(Ref(List(sol2))), Text(\n\nAnswer:)))",
    "{{sol1}} ||| {{sol2}}" ->
      "Template(List(Output(Ref(List(sol1))), Text( ||| ), Output(Ref(List(sol2)))))",
    "{{sol1}}" ->
      "Template(List(Output(Ref(List(sol1)))))",
    "{{sol2}}" ->
      "Template(List(Output(Ref(List(sol2)))))",
    "{{text}}\nDid the reviewer find this movie good or bad? |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(text))), Text(\nDid the reviewer find this movie good or bad? |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{text}}\nDid the reviewer find this movie good or bad?" ->
      "Template(List(Output(Ref(List(text))), Text(\nDid the reviewer find this movie good or bad?)))",
    "bad ||| good" ->
      "Template(List(Text(bad ||| good)))",
    "bad" ->
      "Template(List(Text(bad)))",
    "good" ->
      "Template(List(Text(good)))",
    "Answer the question depending on the context.\nContext: {{context}};\nQuestion: {{question}};\nAnswer: |||{{answers.text[0]}}" ->
      "Template(List(Text(Answer the question depending on the context.\nContext: ), Output(Ref(List(context))), Text(;\nQuestion: ), Output(Ref(List(question))), Text(;\nAnswer: |||), Output(Index(Ref(List(answers, text)),Lit(0)))))",
    "Answer the question depending on the context.\nContext: {{context}};\nQuestion: {{question}};\nAnswer:" ->
      "Template(List(Text(Answer the question depending on the context.\nContext: ), Output(Ref(List(context))), Text(;\nQuestion: ), Output(Ref(List(question))), Text(;\nAnswer:)))",
    "{{answers.text[0]}}" ->
      "Template(List(Output(Index(Ref(List(answers, text)),Lit(0)))))",
    "{{context}}\n\nQ: {{question}}\n\nA: |||{{answers.text[0]}}" ->
      "Template(List(Output(Ref(List(context))), Text(\n\nQ: ), Output(Ref(List(question))), Text(\n\nA: |||), Output(Index(Ref(List(answers, text)),Lit(0)))))",
    "{{context}}\n\nQ: {{question}}\n\nA:" ->
      "Template(List(Output(Ref(List(context))), Text(\n\nQ: ), Output(Ref(List(question))), Text(\n\nA:)))",
    "{{passage}}\nQuestion: {{question}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(passage))), Text(\nQuestion: ), Output(Ref(List(question))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{passage}}\nQuestion: {{question}}\nAnswer:" ->
      "Template(List(Output(Ref(List(passage))), Text(\nQuestion: ), Output(Ref(List(question))), Text(\nAnswer:)))",
    "True ||| False ||| Neither" ->
      "Template(List(Text(True ||| False ||| Neither)))",
    "{{premise}}\nQuestion: {{hypothesis}} True or False? |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(premise))), Text(\nQuestion: ), Output(Ref(List(hypothesis))), Text( True or False? |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{premise}}\nQuestion: {{hypothesis}} True or False?" ->
      "Template(List(Output(Ref(List(premise))), Text(\nQuestion: ), Output(Ref(List(hypothesis))), Text( True or False?)))",
    "True ||| False" ->
      "Template(List(Text(True ||| False)))",
    "What category best describes: {{text}}\nAnswer: |||{{ answer_choices[label] }}" ->
      "Template(List(Text(What category best describes: ), Output(Ref(List(text))), Text(\nAnswer: |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "What category best describes: {{text}}\nAnswer:" ->
      "Template(List(Text(What category best describes: ), Output(Ref(List(text))), Text(\nAnswer:)))",
    "Description ||| Entity ||| Abbreviation ||| Person ||| Quantity ||| Location" ->
      "Template(List(Text(Description ||| Entity ||| Abbreviation ||| Person ||| Quantity ||| Location)))",
    "Description" ->
      "Template(List(Text(Description)))",
    "Entity" ->
      "Template(List(Text(Entity)))",
    "Abbreviation" ->
      "Template(List(Text(Abbreviation)))",
    "Person" ->
      "Template(List(Text(Person)))",
    "Quantity" ->
      "Template(List(Text(Quantity)))",
    "Location" ->
      "Template(List(Text(Location)))",
    "Summarize this document: {{document}}\nSummary: |||{{summary}}" ->
      "Template(List(Text(Summarize this document: ), Output(Ref(List(document))), Text(\nSummary: |||), Output(Ref(List(summary)))))",
    "Summarize this document: {{document}}\nSummary:" ->
      "Template(List(Text(Summarize this document: ), Output(Ref(List(document))), Text(\nSummary:)))",
    "{{text}}\nSo I would like to give it |||{{ answer_choices[label] }}" ->
      "Template(List(Output(Ref(List(text))), Text(\nSo I would like to give it |||), Output(Index(Ref(List(answer_choices)),Ref(List(label))))))",
    "{{text}}\nSo I would like to give it" ->
      "Template(List(Output(Ref(List(text))), Text(\nSo I would like to give it)))",
    "1 star ||| 2 stars ||| 3 stars ||| 4 stars ||| 5 stars" ->
      "Template(List(Text(1 star ||| 2 stars ||| 3 stars ||| 4 stars ||| 5 stars)))",
    "1 star" ->
      "Template(List(Text(1 star)))",
    "2 stars" ->
      "Template(List(Text(2 stars)))",
    "3 stars" ->
      "Template(List(Text(3 stars)))",
    "4 stars" ->
      "Template(List(Text(4 stars)))",
    "5 stars" ->
      "Template(List(Text(5 stars)))",
    // q37
    "{{ text | upper }} has {{ words | length }} words|||{{ lang }}" ->
      "Template(List(Output(Filtered(Ref(List(text)),upper,List())), Text( has ), Output(Filtered(Ref(List(words)),length,List())), Text( words|||), Output(Ref(List(lang)))))",
    // q38
    "{% for s in __shots__ %}Q: {{ s.text }}\n{% endfor %}Q: {{ text }}|||{{ lang }}" ->
      "Template(List(For(s,Ref(List(__shots__)),List(Text(Q: ), Output(Ref(List(s, text))), Text(\n))), Text(Q: ), Output(Ref(List(text))), Text(|||), Output(Ref(List(lang)))))",
    // q102
    "{{ text }}|||{{ lang }}" ->
      "Template(List(Output(Ref(List(text))), Text(|||), Output(Ref(List(lang)))))",
    // q121
    "{% set t20 = text[:20] %}{{ t20 | replace('a', '@') | truncate(12, true, '~', 0) }}/{{ words[1:3] | join('-') }}/{{ words[99] | default('none') }}/{{ n_chars | string }}/{{ text | wordcount }}/{{ lang | title }}|||{{ lang | upper }}" ->
      "Template(List(SetVar(t20,Slice(Ref(List(text)),None,Some(Lit(20)))), Output(Filtered(Filtered(Ref(List(t20)),replace,List(a, @)),truncate,List(12, true, ~, 0))), Text(/), Output(Filtered(Slice(Ref(List(words)),Some(Lit(1)),Some(Lit(3))),join,List(-))), Text(/), Output(Filtered(Index(Ref(List(words)),Lit(99)),default,List(none))), Text(/), Output(Filtered(Ref(List(n_chars)),string,List())), Text(/), Output(Filtered(Ref(List(text)),wordcount,List())), Text(/), Output(Filtered(Ref(List(lang)),title,List())), Text(|||), Output(Filtered(Ref(List(lang)),upper,List()))))",
    // q126
    "{% for w in words %}{{ loop.index }}:{{ w }}{% if not loop.last %} {% endif %}{% endfor %}|||{{ words | length }}" ->
      "Template(List(For(w,Ref(List(words)),List(Output(Ref(List(loop, index))), Text(:), Output(Ref(List(w))), If(List((Some(Not(Ref(List(loop, last)))),List(Text( ))))))), Text(|||), Output(Filtered(Ref(List(words)),length,List()))))",
    // q191
    "{% macro head(ws, k) %}{{ ws[:k] | join(' ') }}{% endmacro %}{% filter upper %}{{ lang }}{% endfilter %}: {{ head(words, 3) }} ({{ words | length - 1 }} gaps)" ->
      "Template(List(MacroDef(head,List((ws,None), (k,None)),List(Output(Filtered(Slice(Ref(List(ws)),None,Some(Ref(List(k)))),join,List( ))))), FilterBlock(upper,List(),List(Output(Ref(List(lang))))), Text(: ), Output(Call(head,List(Ref(List(words)), Lit(3)))), Text( (), Output(Arith(-,Filtered(Ref(List(words)),length,List()),Lit(1))), Text( gaps))))",
    // q270
    "[doc {{ doc_id }} | {{ lang }}]" ->
      "Template(List(Text([doc ), Output(Ref(List(doc_id))), Text( | ), Output(Ref(List(lang))), Text(])))",
    // q270
    "{% include \"header\" %} len={{ text | length }} ||| {{ lang | upper }}" ->
      "Template(List(Text([doc ), Output(Ref(List(doc_id))), Text( | ), Output(Ref(List(lang))), Text(]), Text( len=), Output(Filtered(Ref(List(text)),length,List())), Text( ||| ), Output(Filtered(Ref(List(lang)),upper,List()))))",
    // edge cases
    "{{ a == 'x or y' }}" ->
      "Template(List(Output(Cmp(==,Ref(List(a)),Lit(x or y)))))",
    "{{ m[']'] }}" ->
      "Template(List(Output(Index(Ref(List(m)),Lit(])))))",
    "{{ xs[ys[0]] }}" ->
      "Template(List(Output(Index(Ref(List(xs)),Index(Ref(List(ys)),Lit(0))))))",
    "{{ f(x[0])[1] }}" ->
      "Template(List(Output(Index(Call(f,List(Index(Ref(List(x)),Lit(0)))),Lit(1)))))",
    "{{ x.replace('.', ',') }}" ->
      "Template(List(Output(Filtered(Ref(List(x)),replace,List(., ,)))))",
    "{{ a ~ b == c }}" ->
      "Template(List(Output(Cmp(==,Cmp(~,Ref(List(a)),Ref(List(b))),Ref(List(c))))))",
    "{{ words | length - 1 }}" ->
      "Template(List(Output(Arith(-,Filtered(Ref(List(words)),length,List()),Lit(1)))))",
    "{{ 2 * -3 }}" ->
      "Template(List(Output(Arith(*,Lit(2),Arith(-,Lit(0),Lit(3))))))",
    "{{ (-n) }}" ->
      "Template(List(Output(Ref(List((-n))))))",
    "{{ a // b % c }}" ->
      "Template(List(Output(Arith(%,Arith(//,Ref(List(a)),Ref(List(b))),Ref(List(c))))))",
    "{{ not a == b }}" ->
      "Template(List(Output(Not(Cmp(==,Ref(List(a)),Ref(List(b)))))))",
    "{{ x is not none }}" ->
      "Template(List(Output(IsTest(Ref(List(x)),none,List(),true))))",
    "{{ x is equalto(3) }}" ->
      "Template(List(Output(IsTest(Ref(List(x)),equalto,List(3),false))))",
    "{{ xs[1:3] }}" ->
      "Template(List(Output(Slice(Ref(List(xs)),Some(Lit(1)),Some(Lit(3))))))",
    "{{ s[:5] }}" ->
      "Template(List(Output(Slice(Ref(List(s)),None,Some(Lit(5))))))",
    "{{ range(3) }}" ->
      "Template(List(Output(Call(range,List(Lit(3))))))",
    "{{ text.split(\"|\") }}" ->
      "Template(List(Output(Filtered(Ref(List(text)),split,List(|)))))",
    "{{ map(attribute='x') }}" ->
      "Template(List(Output(Call(map,List(Ref(List(attribute='x')))))))",
    "{{ xs | map(attribute='x') | join(', ') }}" ->
      "Template(List(Output(Filtered(Filtered(Ref(List(xs)),map,List(KwArg(attribute,x))),join,List(, )))))",
    "{{ a or b and not c }}" ->
      "Template(List(Output(Cmp(or,Ref(List(a)),Cmp(and,Ref(List(b)),Not(Ref(List(c))))))))",
    "{{ x not in xs }}" ->
      "Template(List(Output(Cmp(not in,Ref(List(x)),Ref(List(xs))))))",
    "{{ 'a' in s }}" ->
      "Template(List(Output(Cmp(in,Lit(a),Ref(List(s))))))",
    "{{ a != \"==\" }}" ->
      "Template(List(Output(Cmp(!=,Ref(List(a)),Lit(==)))))",
    "{{ (a + b) * c }}" ->
      "Template(List(Output(Arith(*,Ref(List((a + b))),Ref(List(c))))))",
    "{{ a - -1 }}" ->
      "Template(List(Output(Arith(-,Ref(List(a)),Arith(-,Lit(0),Lit(1))))))",
    "{{ xs[i + 1] }}" ->
      "Template(List(Output(Index(Ref(List(xs)),Arith(+,Ref(List(i)),Lit(1))))))",
    "{{ x | replace('|', ',') }}" ->
      "Template(List(Output(Filtered(Ref(List(x)),replace,List(|, ,)))))",
    "{{ n | round(2) }}" ->
      "Template(List(Output(Filtered(Ref(List(n)),round,List(2)))))",
    "{{ x is defined and y >= 2 }}" ->
      "Template(List(Output(Cmp(and,IsTest(Ref(List(x)),defined,List(),false),Cmp(>=,Ref(List(y)),Lit(2))))))",
    "{% macro f(a, b=2) %}{{ a + b }}{% endmacro %}{{ f(1) }}" ->
      "Template(List(MacroDef(f,List((a,None), (b,Some(Lit(2)))),List(Output(Arith(+,Ref(List(a)),Ref(List(b)))))), Output(Call(f,List(Lit(1))))))",
    "{% filter truncate(10) %}{{ text }}{% endfilter %}" ->
      "Template(List(FilterBlock(truncate,List(10),List(Output(Ref(List(text)))))))",
    "{% set n = xs | length %}{% if n > 1 %}{{ n }}{% elif n == 1 %}one{% else %}none{% endif %}" ->
      "Template(List(SetVar(n,Filtered(Ref(List(xs)),length,List())), If(List((Some(Cmp(>,Ref(List(n)),Lit(1))),List(Output(Ref(List(n))))), (Some(Cmp(==,Ref(List(n)),Lit(1))),List(Text(one))), (None,List(Text(none)))))))"
  )

  /** malformed template -> the IllegalArgumentException message */
  val malformed: Seq[(String, String)] = Seq(
    "{{ xs[0 }}" ->
      "requirement failed: Unclosed '[' in: xs[0",
    "{{ xs[0].name }}" ->
      "requirement failed: Trailing content after accessor in: xs[0].name",
    "{{ x | upper! }}" ->
      "Bad filter: upper!",
    "{{ x is not-a-test }}" ->
      "Bad is-test: x is not-a-test",
    "{% filter 1x( %}x{% endfilter %}" ->
      "Bad filter block: filter 1x(",
    "{{ xs[1:2:3] }}" ->
      "Bad slice: [1:2:3]",
    "{{ x.foo() }}" ->
      "Unsupported method call '.foo()'. Supported: capitalize, endswith, lower, replace, split, startswith, strip, title, upper",
    "{{ f(x).y }}" ->
      "requirement failed: Attribute access after a call is unsupported: f(x).y",
    "{{ x.lower().y }}" ->
      "Attribute access after a method call is unsupported: x.lower().y",
    "{% macro f(a-b) %}{% endmacro %}" ->
      "requirement failed: Bad macro param: a-b"
  )
}
