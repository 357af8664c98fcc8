"""Benchmark-owned stand-ins for the two models around a chat turn.

- ``QuestionNER``: finds capitalized name spans in a question, the way a
  learned NER model would, so misspelled names still reach the fuzzy
  linker (a gazetteer would miss them).
- ``StubLLM``: maps each of the four demo question shapes to fixed Spark SQL
  with a total ORDER BY, choosing the best linked candidate from the prompt.
  It is deterministic and costs microseconds, so the turn time is the
  engine's.
"""

from __future__ import annotations

import re

from inputs import TABLE_FOR_LABEL

_NAME_SPAN = re.compile(r"(?<=\s)[A-Z][a-z]+(?: [A-Z][a-z]+)*")
_CANDIDATE = re.compile(
    r"^- (?P<name>.+) \((?P<label>\w+), uid=(?P<uid>[^,]+), score=(?P<score>[0-9.]+)\)$",
    re.M,
)
_QUESTION = re.compile(r"^Question: (?P<q>.*)$", re.M)

_ENTITY_JOIN = (
    "JOIN mentions m ON {src} = m.src_uid "
    "JOIN {table} e ON m.dst_uid = e.uid "
    "WHERE e.name = '{name}'"
)
SQL_BY_SHAPE = {
    "date_of_title": (
        "SELECT a.publishing_date FROM article a "
        "WHERE a.title = '{title}' ORDER BY a.publishing_date"
    ),
    "titles_about": (
        "SELECT DISTINCT a.title FROM article a "
        "JOIN contains c ON a.uid = c.src_uid "
        + _ENTITY_JOIN.format(src="c.dst_uid", table="{table}", name="{name}")
        + " ORDER BY a.title LIMIT 5"
    ),
    "sources_mentioning": (
        "SELECT COUNT(DISTINCT s.uid) AS n_sources FROM source s "
        "JOIN published pb ON s.uid = pb.src_uid "
        "JOIN contains c ON pb.dst_uid = c.src_uid "
        + _ENTITY_JOIN.format(src="c.dst_uid", table="{table}", name="{name}")
    ),
    "said_about": (
        "SELECT DISTINCT ch.text FROM chunk ch "
        + _ENTITY_JOIN.format(src="ch.uid", table="{table}", name="{name}")
        + " ORDER BY ch.text LIMIT 10"
    ),
}
_SHAPE_OF = [
    ("date_of_title", re.compile(r'^When was the article with the title "(?P<t>[^"]*)" published\?$')),
    ("titles_about", re.compile(r"^List 5 article titles about ")),
    ("sources_mentioning", re.compile(r"^How many sources mention ")),
    ("said_about", re.compile(r"^What do the news have to say about ")),
]
# matches no row of any graph table: the turn's answer is then empty and
# the correctness check fails it
NO_MATCH_SQL = "SELECT a.title FROM article a WHERE a.uid = '' ORDER BY a.title"


class QuestionNER:
    """ModelFn for ``EntityFinder``: capitalized spans after the first word."""

    def __call__(self, text: str, labels: list[str], threshold: float) -> list[dict]:
        quoted = [(m.start(), m.end()) for m in re.finditer(r'"[^"]*"', text)]
        spans = []
        for m in _NAME_SPAN.finditer(text):
            if any(s <= m.start() < e for s, e in quoted):
                continue
            spans.append(
                {"text": m.group(0), "label": labels[0], "start": m.start(), "end": m.end(), "score": 1.0}
            )
        return spans


class StubLLM:
    """``CompleteFn`` for ``GraphChat``: SQL for query prompts, a fixed
    sentence for answer prompts."""

    def __call__(self, prompt: str) -> str:
        if prompt.startswith("Answer the question"):
            return "Answered from the query results."
        question = _QUESTION.findall(prompt)[-1]
        for shape, pat in _SHAPE_OF:
            m = pat.match(question)
            if m is None:
                continue
            if shape == "date_of_title":
                return SQL_BY_SHAPE[shape].format(title=m.group("t"))
            cands = [c.groupdict() for c in _CANDIDATE.finditer(prompt)]
            cands = [c for c in cands if c["label"] in TABLE_FOR_LABEL]
            if not cands:
                return NO_MATCH_SQL
            best = min(cands, key=lambda c: (-float(c["score"]), c["name"]))
            return SQL_BY_SHAPE[shape].format(
                table=TABLE_FOR_LABEL[best["label"]], name=best["name"]
            )
        return NO_MATCH_SQL
