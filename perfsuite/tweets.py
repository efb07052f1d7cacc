"""Seeded Sentiment140-shaped corpus and a pure-Python replica of the clean.

:func:`write_corpus` writes the headerless six-column CSV the paper's
preprocessing script reads (FIXTURES.md section 1) and returns the clean-row
count and digest that :func:`clean_digest` must reproduce from the
pipeline's clean CSV sink. The replica follows the engine's 7-step chain with
Java regex semantics, where ``\\s`` is ASCII whitespace only.
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
import re

ROWS = 4000
TINY_ROWS = 400

_WS = " \t\n\x0b\f\r"  # Java's \s: ASCII whitespace only
_RE_MENTION = re.compile(r"@[A-Za-z0-9_]+")
_RE_URL = re.compile(r"https?://[^%s]+" % _WS)
_RE_NON_LETTER = re.compile(r"[^a-zA-Z%s]" % _WS)
_RE_MULTISPACE = re.compile(r"[%s]+" % _WS)

POSITIVE = "good great happy love awesome fun nice best thanks cool lol yay".split()
NEGATIVE = "bad sad hate awful worst sick tired miss sorry ugh broken lost".split()
NEUTRAL = (
    "day work today tomorrow night movie music game friend school home time "
    "weekend coffee phone bus rain sun morning lunch"
).split()
STOP = "i me my the a an is are was to of and but so it this that just".split()
USERS = [f"user_{i:03d}" for i in range(120)]


def clean(text: str) -> str:
    """lower, strip @mentions, URLs and '#', non-letters to space, collapse
    whitespace, trim spaces: the engine's ``functions.text.clean_text``."""
    t = text.lower()
    t = _RE_MENTION.sub("", t)
    t = _RE_URL.sub("", t)
    t = t.replace("#", "")
    t = _RE_NON_LETTER.sub(" ", t)
    t = _RE_MULTISPACE.sub(" ", t)
    return t.strip(" ")


def _tweet(rng: random.Random, positive: bool) -> str:
    kind = rng.random()
    if kind < 0.04:  # nothing left after cleaning
        return rng.choice(
            ["@user_007 http://x.co/a1 123!!!", "#1 :) 42", "https://t.co/zz @bob ...", "  ???  "]
        )
    if kind < 0.08:  # all stopwords: empty after the stopword stage
        return " ".join(rng.choices(STOP, k=rng.randint(1, 6)))
    if kind < 0.11:  # single token
        return rng.choice(POSITIVE if positive else NEGATIVE)
    lean = POSITIVE if positive else NEGATIVE
    other = NEGATIVE if positive else POSITIVE
    words = []
    for _ in range(rng.randint(3, 18)):
        r = rng.random()
        pool = lean if r < 0.3 else other if r < 0.38 else STOP if r < 0.6 else NEUTRAL
        w = rng.choice(pool)
        c = rng.random()
        if c < 0.08:
            w = w.upper()
        elif c < 0.15:
            w = w.capitalize()
        words.append(w)
    extras = [
        "@" + rng.choice(USERS),
        "http://bit.ly/" + str(rng.randrange(10**6)),
        "https://t.co/" + str(rng.randrange(10**6)),
        "#" + rng.choice(NEUTRAL),
        str(rng.randrange(1000)),
        rng.choice(["!!!", "?", "...", ":)", ":(", "&amp;", "\U0001F600", "❤", "café"]),
    ]
    for e in rng.sample(extras, rng.randint(0, 4)):
        words.insert(rng.randrange(len(words) + 1), e)
    sep = rng.choice([" ", " ", " ", "  ", " \t "])
    text = sep.join(words)
    if rng.random() < 0.1:
        text = "  " + text + "   "
    return text[:140]


def write_corpus(path: str, seed: int, rows: int = ROWS) -> dict[str, object]:
    """Write ``rows`` raw tweets to ``path``; return the expected clean
    row count, their digest and the label counts."""
    rng = random.Random(seed)
    kept: list[tuple[int, str]] = []
    texts: list[str] = []
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        for i in range(rows):
            positive = rng.random() < 0.5
            if rng.random() < 0.06 and texts:  # exact duplicate texts
                text = rng.choice(texts)
            else:
                text = _tweet(rng, positive)
                texts.append(text)
            row = [
                4 if positive else 0,
                str(1467810000 + i),
                f"Mon Apr {rng.randint(1, 30):02d} 22:{rng.randrange(60):02d}:45 PDT 2009",
                "NO_QUERY",
                USERS[min(int(rng.paretovariate(1.2)) - 1, len(USERS) - 1)],
                text,
            ]
            if rng.random() < 0.02:  # NULLs in any column (dropna)
                row[rng.randrange(6)] = ""
            w.writerow(row)
            if all(v != "" for v in row):
                c = clean(text)
                if c:
                    kept.append((1 if positive else 0, c))
    return {
        "raw_rows": rows,
        "clean_rows": len(kept),
        "clean_digest": digest(kept),
        "labels": {str(k): sum(1 for lab, _ in kept if lab == k) for k in (0, 1)},
    }


def digest(rows: list[tuple[int, str]]) -> str:
    """Order-insensitive digest of (label, text) rows."""
    h = hashlib.sha256()
    for label, text in sorted(rows):
        h.update(f"{label}\t{text}\n".encode())
    return h.hexdigest()


def clean_digest(clean_dir: str) -> tuple[int, str]:
    """Row count and digest of the pipeline's headered clean CSV sink."""
    rows: list[tuple[int, str]] = []
    for name in sorted(os.listdir(clean_dir)):
        if not name.endswith(".csv"):
            continue
        with open(os.path.join(clean_dir, name), newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            next(reader, None)
            rows.extend((int(label), text) for label, text in reader)
    return len(rows), digest(rows)
