"""Seeded input generators for the benchmark workloads.

Every input is derived from the synthetic test tables (``documents.parquet``
supplies the article text and sources) and the workload seed; the same seed
always yields the same articles, questions and ingest batches. Nothing here
imports Spark or the engine package, so the generators can be checked on
their own.

Entity names come from a fixed syllable generator (independent of the seed,
so the graph's shape does not change between seeds). The names are built so
that:

- no name occurs inside another name or inside the corpus vocabulary, so a
  case-insensitive gazetteer match finds exactly the names that were
  inserted;
- every name token is at least three edits away from every other token the
  fuzzy linker indexes, so a one-edit typo links back to its own entity and
  to no other.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

LABELS = ("person", "organization", "location")
TABLE_FOR_LABEL = {"Person": "person", "Organization": "organization", "Location": "location"}

MAX_SHORT_PARAGRAPH = 1100  # the chunker passes texts shorter than this through
BATCH_SIZE = 25
TYPO_SHARE = 0.2
REDELIVERY_SHARE = 0.2
MALFORMED_PER_BATCH = (2, 3)  # alternating: 2.5 of 25 rows = 10%
DOCS_PER_NEW_ARTICLE = 4  # fixed, so every batch carries about the same text
MALFORMED_KINDS = ("missing_url", "missing_title", "no_content", "bad_language")

QUESTION_SHAPES = ("date_of_title", "titles_about", "sources_mentioning", "said_about")


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@dataclass(frozen=True)
class Document:
    doc_id: int
    text: str
    lang: str
    source: str


def read_documents(sf_dir: str) -> list[Document]:
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT doc_id, text, lang, source FROM read_parquet(?) "
            "WHERE text IS NOT NULL ORDER BY doc_id",
            [f"{sf_dir}/documents.parquet"],
        ).fetchall()
    finally:
        con.close()
    return [Document(*r) for r in rows]


# ---------------------------------------------------------------------------
# Gazetteer
# ---------------------------------------------------------------------------

_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def make_gazetteer(
    docs: list[Document], n_person: int = 30, n_org: int = 15, n_location: int = 15
) -> dict[str, list[str]]:
    """label -> canonical names (persons and organizations have two tokens,
    locations one)."""
    vocab = {w for d in docs for w in d.text.lower().split()}
    reserved = vocab | {d.source.lower() for d in docs}
    corpus_words = " ".join(sorted(reserved))
    rng = random.Random(20240517)
    tokens: list[str] = []
    need = 2 * n_person + 2 * n_org + n_location
    while len(tokens) < need:
        n_syll = rng.choice((3, 3, 4))
        tok = "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(n_syll))
        tok = tok[: rng.choice((6, 7, 8))]
        if tok in corpus_words or any(levenshtein(tok, t) < 3 for t in tokens):
            continue
        if any(levenshtein(tok, w) < 3 for w in reserved):
            continue
        tokens.append(tok)
    caps = [t.capitalize() for t in tokens]
    persons = [f"{caps[2 * i]} {caps[2 * i + 1]}" for i in range(n_person)]
    off = 2 * n_person
    orgs = [f"{caps[off + 2 * i]} {caps[off + 2 * i + 1]}" for i in range(n_org)]
    off += 2 * n_org
    locations = caps[off : off + n_location]
    return {"person": persons, "organization": orgs, "location": locations}


def entity_list(gazetteer: dict[str, list[str]]) -> list[tuple[str, str]]:
    """(name, label) in a fixed order."""
    return [(n, label) for label in LABELS for n in gazetteer[label]]


def typo(name: str, rng: random.Random) -> str:
    """One edit (substitute, insert or delete a lowercase letter) inside one
    token, never touching the capital, so the question NER still sees a
    name."""
    toks = name.split(" ")
    i = rng.randrange(len(toks))
    t = toks[i]
    pos = rng.randrange(1, len(t))
    kind = rng.choice(("sub", "ins", "del"))
    letters = "abcdefghijklmnopqrstuvwxyz"
    if kind == "sub":
        t = t[:pos] + rng.choice([c for c in letters if c != t[pos]]) + t[pos + 1 :]
    elif kind == "ins":
        t = t[:pos] + rng.choice(letters) + t[pos:]
    else:
        t = t[:pos] + t[pos + 1 :]
    toks[i] = t
    return " ".join(toks)


# ---------------------------------------------------------------------------
# Articles
# ---------------------------------------------------------------------------


@dataclass
class Article:
    url: str | None
    title: str | None
    publishing_date: dt.datetime
    language: str
    summary: list[str]
    sections: list[dict]
    topics: list[str]
    authors: list[str]
    source_name: str
    source_type: str
    source_url: str
    valid: bool = True
    mentions: list[str] = field(default_factory=list)  # canonical names inserted

    def row(self) -> dict:
        return {
            "url": self.url,
            "title": self.title,
            "publishing_date": self.publishing_date,
            "language": self.language,
            "summary": list(self.summary),
            "sections": [
                {"headline": list(s["headline"]), "paragraphs": list(s["paragraphs"])}
                for s in self.sections
            ],
            "topics": list(self.topics),
            "authors": list(self.authors),
            "source_name": self.source_name,
            "source_type": self.source_type,
            "source_url": self.source_url,
        }

    def paragraphs(self) -> list[str]:
        return [p for s in self.sections for p in s["paragraphs"]]


def _insert_names(text: str, names: list[str], rng: random.Random) -> str:
    """Insert each name at its own word gap, so any two inserted names are
    separated by at least one corpus word (adjacent same-label spans would
    be merged by the NER step)."""
    words = text.split(" ")
    gaps = sorted(rng.sample(range(len(words) + 1), len(names)))
    for offset, (gap, name) in enumerate(zip(gaps, names)):
        words.insert(gap + offset, name)
    return " ".join(words)


class ArticleFactory:
    """Builds articles from documents; numbering makes every url unique."""

    def __init__(self, gazetteer: dict[str, list[str]], rng: random.Random):
        self.entities = entity_list(gazetteer)
        self.rng = rng
        self.count = 0

    def article(self, docs: list[Document]) -> Article:
        rng = self.rng
        n = self.count
        self.count += 1
        first = docs[0]
        paragraphs: list[str] = []
        mentions: list[str] = []
        i = 0
        while i < len(docs):
            if rng.random() < 0.15 and len(docs) - i >= 3:
                # one oversize paragraph: sentences joined with '. ' until it
                # exceeds the pass-through limit; it carries no entity
                parts: list[str] = []
                while i < len(docs) and sum(len(p) + 2 for p in parts) < MAX_SHORT_PARAGRAPH + 50:
                    parts.append(docs[i].text)
                    i += 1
                long_text = ". ".join(parts) + "."
                if len(long_text) >= MAX_SHORT_PARAGRAPH:
                    paragraphs.append(long_text)
                    continue
                i -= len(parts)
            text = docs[i].text
            i += 1
            r = rng.random()
            k = 0 if r < 0.4 else (1 if r < 0.85 else 2)
            names = [self.entities[j][0] for j in rng.sample(range(len(self.entities)), k)]
            mentions.extend(names)
            paragraphs.append(_insert_names(text, names, rng))
        cut = max(1, len(paragraphs) // 2) if len(paragraphs) > 2 else len(paragraphs)
        sections = [{"headline": [f"part one of report {n}"], "paragraphs": paragraphs[:cut]}]
        if paragraphs[cut:]:
            sections.append({"headline": [f"part two of report {n}"], "paragraphs": paragraphs[cut:]})
        words = first.text.split()
        topics = sorted(set(words[:2]))
        return Article(
            url=f"https://{first.source}.example/articles/{n}",
            title=f"report {n}: {' '.join(words[:3])}",
            publishing_date=dt.datetime(2024, 1, 1) + dt.timedelta(minutes=rng.randrange(525600)),
            language=first.lang,
            summary=[" ".join(words[:6])],
            sections=sections,
            topics=topics,
            authors=[],
            source_name=first.source,
            source_type="feed",
            source_url=f"https://{first.source}.example",
            mentions=sorted(set(mentions)),
        )


def _malform(a: Article, kind: str) -> Article:
    if kind == "missing_url":
        a.url = None
    elif kind == "missing_title":
        a.title = None
    elif kind == "no_content":
        a.summary, a.sections = [], []
    else:
        a.language = "english"
    a.valid = False
    a.mentions = []
    return a


@dataclass
class Corpus:
    gazetteer: dict[str, list[str]]
    base: list[Article]
    holdout: list[Document]
    seed: int


def make_corpus(docs: list[Document], seed: int, base_share: float) -> Corpus:
    """Split the documents into a base corpus (ingested at set-up) and a
    held-out pool (the ingest workload's new articles)."""
    gaz = make_gazetteer(docs)
    rng = random.Random(seed)
    order = list(docs)
    rng.shuffle(order)
    n_base = int(len(order) * base_share)
    base_docs, holdout = order[:n_base], order[n_base:]
    factory = ArticleFactory(gaz, random.Random(seed * 7919 + 1))
    base: list[Article] = []
    i = 0
    while i < len(base_docs):
        k = rng.randint(2, 6)
        base.append(factory.article(base_docs[i : i + k]))
        i += k
    return Corpus(gaz, base, holdout, seed)


# ---------------------------------------------------------------------------
# Ingest batches
# ---------------------------------------------------------------------------


@dataclass
class Batch:
    index: int
    articles: list[Article]
    redelivered: int  # articles delivered before (base corpus or earlier batch)

    @property
    def n_valid(self) -> int:
        return sum(a.valid for a in self.articles)

    @property
    def new_valid(self) -> list[Article]:
        return [a for a in self.articles[self.redelivered :] if a.valid]


def ingest_batches(corpus: Corpus, n_batches: int, stream: int = 0) -> list[Batch]:
    """The ingest workload's batch sequence. Each batch of 25 starts with
    five re-deliveries of valid articles already in the store (base corpus
    or an earlier batch of the same stream), then twenty new articles built
    from held-out documents, two or three of them malformed. Streams are
    independent and their urls are disjoint from each other's and from the
    base corpus."""
    rng = random.Random(corpus.seed * 104729 + 3 + 17 * stream)
    factory = ArticleFactory(corpus.gazetteer, random.Random(corpus.seed * 15485863 + 5 + 17 * stream))
    factory.count = 1_000_000 * (1 + stream)
    n_redeliver = round(BATCH_SIZE * REDELIVERY_SHARE)
    delivered = list(corpus.base)
    batches: list[Batch] = []
    for b in range(n_batches):
        arts = [rng.choice(delivered) for _ in range(n_redeliver)]
        new = []
        for _ in range(BATCH_SIZE - n_redeliver):
            new.append(factory.article([rng.choice(corpus.holdout) for _ in range(DOCS_PER_NEW_ARTICLE)]))
        n_bad = MALFORMED_PER_BATCH[b % 2]
        for j, pos in enumerate(sorted(rng.sample(range(len(new)), n_bad))):
            _malform(new[pos], MALFORMED_KINDS[(b + j) % len(MALFORMED_KINDS)])
        batches.append(Batch(b, arts + new, n_redeliver))
        delivered.extend(a for a in new if a.valid)
    return batches


# ---------------------------------------------------------------------------
# Chat questions
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Question:
    shape: str
    text: str
    target: str  # canonical entity name, or the title for date_of_title
    label: str | None  # entity label, None for date_of_title
    typo: bool


def question_text(shape: str, subject: str) -> str:
    if shape == "date_of_title":
        return f'When was the article with the title "{subject}" published?'
    if shape == "titles_about":
        return f"List 5 article titles about {subject}"
    if shape == "sources_mentioning":
        return f"How many sources mention {subject}?"
    return f"What do the news have to say about {subject}?"


def _zipf_weights(n: int, s: float = 1.3) -> list[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


def chat_questions(corpus: Corpus, n: int, seed_offset: int = 0) -> list[Question]:
    """``n`` questions cycling through the four demo shapes in a fixed
    order; subjects are Zipf-skewed (so some questions repeat) and about
    one entity name in five carries a one-edit typo."""
    rng = random.Random(corpus.seed * 31337 + 11 + seed_offset)
    mentioned = {m for a in corpus.base for m in a.mentions}
    ents = [(nm, lb) for nm, lb in entity_list(corpus.gazetteer) if nm in mentioned]
    rng.shuffle(ents)
    titles = [a.title for a in corpus.base]
    rng.shuffle(titles)
    titles = titles[:40]
    ew, tw = _zipf_weights(len(ents)), _zipf_weights(len(titles))
    out: list[Question] = []
    for i in range(n):
        shape = QUESTION_SHAPES[i % len(QUESTION_SHAPES)]
        if shape == "date_of_title":
            title = rng.choices(titles, tw)[0]
            out.append(Question(shape, question_text(shape, title), title, None, False))
            continue
        name, label = rng.choices(ents, ew)[0]
        has_typo = rng.random() < TYPO_SHARE
        shown = typo(name, rng) if has_typo else name
        out.append(Question(shape, question_text(shape, shown), name, label, has_typo))
    return out


def repeat_share(texts: list[str]) -> float:
    """Share of items whose exact text already occurred earlier."""
    seen: set[str] = set()
    rep = 0
    for t in texts:
        rep += t in seen
        seen.add(t)
    return rep / len(texts) if texts else 0.0


def read_question(batch: Batch, i: int, seed: int) -> Question:
    """The read-after-write question of ingest operation ``i``: the four
    shapes in turn, about an article or entity of the batch just written."""
    rng = random.Random(seed * 7 + i)
    fresh = batch.new_valid
    # entity shapes first: a run that times one operation still links an
    # entity through the fuzzy index
    shape = QUESTION_SHAPES[(i + 1) % len(QUESTION_SHAPES)]
    names = sorted({m for a in fresh for m in a.mentions})
    if shape == "date_of_title" or not names:
        title = fresh[0].title
        return Question("date_of_title", question_text("date_of_title", title), title, None, False)
    name = rng.choice(names)
    has_typo = rng.random() < TYPO_SHARE
    shown = typo(name, rng) if has_typo else name
    return Question(shape, question_text(shape, shown), name, None, has_typo)
