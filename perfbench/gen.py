"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed (and of its other
arguments), so the same seed gives byte-identical inputs. Event times
are logical: they start from a fixed epoch and never read the clock.
"""
import json
import random

# 2025-08-01T00:00:00Z: the logical start of the live phase.
LIVE_EPOCH_MS = 1754006400000
BACKLOG_SPAN_MS = 60 * 60 * 1000

WORDS = (
    "data stream spark window batch query table value key row column join "
    "merge scan filter sort group order stage task shuffle cache index "
    "vector search trend alert keyword mirror change event source sink "
    "market policy energy health science sports travel music film game "
    "city river mountain forest ocean island bridge tower station harbor "
    "school college library museum theater garden market factory office "
    "report review update launch release record budget growth profit loss "
    "storm rain snow wind heat cloud sunny cold dry wet season climate "
    "phone laptop chip sensor robot engine drone rocket satellite network "
    "server cluster memory storage latency throughput protocol platform "
    "player coach team league match score goal final title season fans"
).split()
MARKERS = ["the", "a", "and"]
CATEGORIES = ["politics", "economy", "society", "culture", "world", "science"]
TABLES = ["articles", "media", "article_changes"]


def article_text(rng, n_words):
    """English-looking text: vocabulary words with the marker words
    mixed in, so the curation funnel's language guess reads `en`."""
    out = []
    for _ in range(n_words):
        out.append(rng.choice(MARKERS) if rng.random() < 0.2 else rng.choice(WORDS))
    return " ".join(out)


def near_copy(rng, text):
    """A near-duplicate: a few words substituted."""
    words = text.split()
    for _ in range(rng.randint(1, 3)):
        words[rng.randrange(len(words))] = rng.choice(WORDS)
    words.append(rng.choice(WORDS) + str(rng.randrange(1000)))
    return " ".join(words)


class Corpus:
    """Articles by id. Content is fixed per id, so re-sent upserts of one
    article carry the same text. About one article in ten is a near copy
    of an earlier one."""

    def __init__(self, rng):
        self.rng = rng
        self.text = {}

    def new(self, article_id):
        rng = self.rng
        if self.text and rng.random() < 0.1:
            base = self.text[rng.choice(list(self.text))]
            t = near_copy(rng, base)
        else:
            t = article_text(rng, rng.randint(35, 80))
        self.text[article_id] = t
        return t


def _image(article_id, corpus, rng):
    return {
        "id": article_id,
        "title": "title %d" % article_id,
        "content": corpus.text[article_id],
        "category": rng.choice(CATEGORIES),
        "source": "src%d" % rng.randrange(20),
        "views_count": rng.randrange(20000),
        "stored_date": "20250801",
        "value": round(rng.random() * 100, 2),
        "is_deleted": False,
    }


def _plain(row_id, rng):
    return {"id": row_id, "value": round(rng.random() * 100, 2)}


def envelope(op, table, ts_ms, image, wrap):
    """One Debezium change envelope; `wrap` selects the payload shape."""
    core = {
        "op": op,
        "before": image if op == "d" else None,
        "after": None if op == "d" else image,
        "source": {"table": table},
        "ts_ms": ts_ms,
    }
    return json.dumps({"payload": core} if wrap else core, sort_keys=True,
                      ensure_ascii=False)


class ChangeLog:
    """The change stream: a snapshot of the articles (op `r`), then c/u/d
    changes routed over articles, media and article_changes (the q45
    routing). Ids of media and article_changes rows are drawn from a
    small range so updates and deletes hit live rows."""

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.corpus = Corpus(self.rng)
        self.next_article = 1

    def snapshot(self, n_articles, ts_list):
        out = []
        for ts in ts_list[:n_articles]:
            aid = self.next_article
            self.next_article += 1
            self.corpus.new(aid)
            out.append(envelope("r", "articles", ts, _image(aid, self.corpus, self.rng),
                                self.rng.random() < 0.5))
        return out

    def change(self, ts):
        rng = self.rng
        table = rng.choice(TABLES)
        r = rng.random()
        op = "c" if r < 0.3 else ("u" if r < 0.85 else "d")
        if table == "articles":
            if op == "c" or self.next_article == 1:
                op = "c"
                aid = self.next_article
                self.next_article += 1
                self.corpus.new(aid)
            else:
                aid = rng.randrange(1, self.next_article)
            image = _image(aid, self.corpus, rng)
        else:
            image = _plain(rng.randrange(1, 400), rng)
        return envelope(op, table, ts, image, rng.random() < 0.5)


def backlog(seed, n_articles, n_changes):
    """Backlog envelopes (snapshot then change log) with event times
    spread over the hour before the live phase, ascending."""
    log = ChangeLog(seed)
    n = n_articles + n_changes
    step = BACKLOG_SPAN_MS / n
    ts = [LIVE_EPOCH_MS - BACKLOG_SPAN_MS + int(i * step) + 1 for i in range(n)]
    lines = log.snapshot(n_articles, ts)
    lines += [log.change(t) for t in ts[n_articles:]]
    return log, lines


def live_file(log, index, per_file):
    """Envelopes of live file `index`: every one stamped with the file's
    due time (logical ms) plus a distinct ms offset."""
    due = LIVE_EPOCH_MS + index * 1000 + 500
    return due, [log.change(due + j + 1) for j in range(per_file)]

