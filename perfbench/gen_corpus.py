"""Seeded podcast-corpus generator for the `podcast_etl` workload.

Derives RSS feeds, per-chunk transcript JSON and the barrier's expected
(episode_id, num_chunks) from the words of `documents.parquet`, for two
batches:

- batch 1: episodes 1..E, a share of them incomplete (one chunk never
  arrives), so the barrier holds them back;
- batch 2, the replay: every chunk again for a share of the batch-1
  episodes (their keys already exist), all chunks of half the batch-1
  episodes that were held back (late completions), new episodes (some
  incomplete), and the feeds re-scraped with new items and podcasts.

It also writes `manifest.properties` with what a correct pipeline must
produce from each batch: episodes in, landed and held back, sentence and
entity counts, the rows each warehouse table must gain and the fresh
episode ids. The same seed gives byte-identical files; the manifest
carries a SHA-256 over all of them.

`run.py` calls `generate()`; it has no command line of its own.
"""
import datetime
import hashlib
import json
import os
import random

import pyarrow.parquet as pq

DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
          "Oct", "Nov", "Dec"]

# Shape of the corpus. Chunks are long so that the per-file cost of the
# JSON read does not swamp the downstream stages.
CHUNK_PATTERN = (1, 2, 3, 2)
SENTENCES_PER_CHUNK = (100, 160)
WORDS_PER_SENTENCE = (6, 16)
EPISODES_PER_PODCAST = 12
HELD_SHARE = 0.08          # batch-1 episodes missing a chunk
REDELIVER_SHARE = 0.25     # batch-1 episodes delivered again in batch 2
NEW_SHARE = 0.35           # batch-2 new episodes, relative to batch 1
NEW_HELD_SHARE = 0.10      # batch-2 new episodes missing a chunk
BAD_DATE_SHARE = 0.03      # items whose pubDate does not parse
DUP_ITEM_SHARE = 0.03      # items listed twice in a feed (same link)


def rfc822(rng):
    d = datetime.datetime(2021, 1, 1, tzinfo=datetime.timezone.utc) + \
        datetime.timedelta(seconds=rng.randrange(3 * 365 * 86400))
    return d, "%s, %02d %s %d %02d:%02d:%02d +0000" % (
        DAYS[d.weekday()], d.day, MONTHS[d.month - 1], d.year,
        d.hour, d.minute, d.second)


class Words:
    """An endless, seeded stream of the documents' words."""

    def __init__(self, texts, rng):
        self.texts, self.rng = texts, rng
        self.buf, self.i = [], 0

    def take(self, n):
        out = []
        while len(out) < n:
            if self.i >= len(self.buf):
                self.buf = self.texts[self.rng.randrange(len(self.texts))].split()
                self.i = 0
            out.append(self.buf[self.i])
            self.i += 1
        return out


def make_sentence(words, rng):
    ws = words.take(rng.randint(*WORDS_PER_SENTENCE))
    ws[0] = ws[0].capitalize()
    return " ".join(ws) + rng.choice(".!?.")


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)


def feed_xml(title, items):
    out = ['<?xml version="1.0" encoding="UTF-8"?>', '<rss version="2.0">',
           "  <channel>", "    <title>%s</title>" % title,
           "    <description>%s feed</description>" % title]
    for it in items:
        out += ["    <item>",
                "      <title>%s</title>" % it["title"],
                "      <description>%s</description>" % it["description"],
                "      <pubDate>%s</pubDate>" % it["pubDate"],
                '      <enclosure url="%s" type="audio/mpeg"/>' % it["link"],
                "    </item>"]
    out += ["  </channel>", "</rss>", ""]
    return "\n".join(out)


def generate(documents, out, seed, episodes):
    rng = random.Random(seed)
    # Words only: a '.', '!' or '?' inside a word would split sentences
    # where the generator does not count one.
    def clean(t):
        return " ".join("".join(ch for ch in t.lower() if ch.isalnum() or ch.isspace()).split())
    texts = [clean(t) for t in pq.read_table(documents, columns=["text"])
             .column("text").to_pylist() if t]
    texts = [t for t in texts if len(t.split()) >= 3]
    words = Words(texts, rng)

    # Episode content, generated once; a chunk re-delivered in batch 2 is
    # byte-identical to its batch-1 delivery.
    n_new = max(1, int(episodes * NEW_SHARE))
    # Chunk counts cycle through a fixed pattern and only their order is
    # seeded, so every seed writes the same number of chunks.
    counts = [CHUNK_PATTERN[i % len(CHUNK_PATTERN)] for i in range(episodes + n_new)]
    rng.shuffle(counts)
    chunks = {}          # episode -> [chunk text]
    for e in range(1, episodes + n_new + 1):
        chunks[e] = [" ".join(make_sentence(words, rng) for _ in
                              range(rng.randint(*SENTENCES_PER_CHUNK)))
                     for _ in range(counts[e - 1])]

    # Feed items: each episode belongs to one podcast.
    n_pods = max(1, -(-(episodes + n_new) // EPISODES_PER_PODCAST))
    podcast_of = {e: (e - 1) // EPISODES_PER_PODCAST for e in chunks}
    items = {}
    for e in chunks:
        d, s = rfc822(rng)
        bad = rng.random() < BAD_DATE_SHARE
        items[e] = {"title": "Episode %d" % e,
                    "description": " ".join(words.take(8)),
                    "pubDate": "not a date" if bad else s,
                    "date": None if bad else d.date().isoformat(),
                    "link": "https://example.com/pod%d/ep%d.mp3" % (podcast_of[e], e),
                    "dup": rng.random() < DUP_ITEM_SHARE}

    first = list(range(1, episodes + 1))
    new = list(range(episodes + 1, episodes + n_new + 1))
    held1 = set(rng.sample(first, max(1, int(episodes * HELD_SHARE))))
    redeliver = set(rng.sample([e for e in first if e not in held1],
                               max(1, int(episodes * REDELIVER_SHARE))))
    late = set(sorted(held1)[::2])
    held2 = set(rng.sample(new, max(1, int(n_new * NEW_HELD_SHARE))))

    def n_sentences(e):
        return sum(c.count(". ") + c.count("! ") + c.count("? ") + 1 for c in chunks[e])

    def n_entities(e):
        n = sum(len(c.split()) for c in chunks[e])
        return (n + 2) // 5   # words at positions 2, 7, 12, ...

    manifest = {"seed": seed}
    landed, seen_links, seen_pods, seen_dates = set(), set(), set(), set()
    batches = [
        ("batch1", first, held1, set(range(1, episodes + 1))),
        ("batch2", sorted(redeliver | late) + new, held2, set(chunks)),
    ]
    for name, eps, held, listed in batches:
        base = os.path.join(out, name)
        n_files = 0
        with_chunks = []
        for e in eps:
            cs = chunks[e]
            deliver = cs[:-1] if (e in held and len(cs) > 1) else cs
            if e in held and len(cs) == 1:
                deliver = []
            for i, text in enumerate(deliver, start=1):
                write(os.path.join(base, "chunks", "episode_%d" % e, "chunk_%d.json" % i),
                      json.dumps({"results": {"transcripts": [{"transcript": text}]}},
                                 separators=(",", ":")) + "\n")
                n_files += 1
            if deliver:
                with_chunks.append(e)
        write(os.path.join(base, "expected.csv"),
              "episode_id,num_chunks\n" +
              "".join("%d,%d\n" % (e, len(chunks[e])) for e in eps))
        pods = sorted({podcast_of[e] for e in listed})
        for p in pods:
            its = []
            for e in sorted(x for x in listed if podcast_of[x] == p):
                its.append(items[e])
                if items[e]["dup"]:
                    its.append(dict(items[e], title="Episode %d (again)" % e))
            write(os.path.join(base, "feeds", "feed_%d.xml" % p),
                  feed_xml("Podcast %d" % p, its))
        complete = [e for e in with_chunks if e not in held]
        fresh = sorted(e for e in complete if e not in landed)
        links = {items[e]["link"] for e in listed}
        dates = {items[e]["date"] for e in listed if items[e]["date"]}
        titles = {"Podcast %d" % p for p in pods}
        size = 0
        for root, _, files in os.walk(base):
            size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        manifest.update({
            name + ".chunk_files": n_files,
            name + ".episodes_in": len(with_chunks),
            name + ".episodes_complete": len(complete),
            name + ".episodes_held": len(with_chunks) - len(complete),
            name + ".sentences": sum(n_sentences(e) for e in complete),
            name + ".entities": sum(n_entities(e) for e in complete),
            name + ".fresh_episodes": " ".join(map(str, fresh)),
            name + ".fresh.sentence": sum(n_sentences(e) for e in fresh),
            name + ".fresh.entity": sum(n_entities(e) for e in fresh),
            name + ".fresh.episode": len(links - seen_links),
            name + ".fresh.podcast": len(titles - seen_pods),
            name + ".fresh.time": len(dates - seen_dates),
            name + ".input_bytes": size,
        })
        landed |= set(fresh)
        seen_links |= links
        seen_pods |= titles
        seen_dates |= dates

    manifest.update({
        "episodes": len(chunks),
        "podcasts": n_pods,
        "chunk_files": manifest["batch1.chunk_files"] + manifest["batch2.chunk_files"],
        "sentences": sum(n_sentences(e) for e in landed),
        "entities": sum(n_entities(e) for e in landed),
        "input_bytes": manifest["batch1.input_bytes"] + manifest["batch2.input_bytes"],
        "sha256": tree_hash(out),
    })
    write(os.path.join(out, "manifest.properties"),
          "".join("%s=%s\n" % (k, manifest[k]) for k in sorted(manifest)))
    return manifest


def tree_hash(root):
    """SHA-256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    paths = []
    for d, _, files in os.walk(root):
        paths += [os.path.join(d, f) for f in files if f != "manifest.properties"]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()

