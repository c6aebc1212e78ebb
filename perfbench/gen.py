"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical files, so a run can be repeated and two commits can be
fed the same inputs.  Nothing here imports Spark; the engine only ever
sees the files these functions write.

* ``hisac_batch``: a ``documents.parquet`` in the ``documents`` fixture schema
  (``doc_id, text, lang, source, n_chars``).  Bodies vary in length and
  carry 0-6 defanged IOCs in the FIXTURES.md B3 forms; about a fifth
  carry a mid-text ``From: H-ISAC Amber`` line whose quoted IOCs must
  not be extracted.  The expected output comes from the DuckDB oracle,
  not from this module.
* ``tweet_stream``: files of tweet-JSON lines in the FIXTURES.md B2
  shapes: retweets and ``RT @`` texts, ``extended_tweet``, a few
  malformed lines, 0-3 IOCs per tweet.  Each file comes with its manifest
  of expected ``(id, type, ioc)`` rows, so the IOC forms used in tweets
  are the ones whose extraction is unambiguous.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Filler words: letters only, so no filler can form an IP, a 32+ hex
# run, a URL (``//``), an email (``@``) or a defang marker (``[.]``).
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark dup group query row data filter customer "
    "line agg value column vector alert actor phishing campaign payload "
    "dropper loader beacon domain sender attachment invoice report analyst "
    "malware sample triage observed blocked review credential macro host "
    "network traffic outbound inbound lure kit threat intel feed member"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
REPLY_MARKER = "From: H-ISAC Amber"

HASHTAGS = ("emotet", "hancitor", "lokibot", "malspam", "ransomware", "infosec")
WEEKDAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct",
          "Nov", "Dec")


def _word(rng: np.random.Generator) -> str:
    return VOCAB[int(rng.integers(len(VOCAB)))]


def _hex(rng: np.random.Generator, n: int) -> str:
    return rng.bytes((n + 1) // 2).hex()[:n]


def _octet(rng: np.random.Generator) -> int:
    return int(rng.integers(1, 255))


# --- hisac_batch documents ---------------------------------------------------

class _Draws:
    """Bulk random draws consumed in order; one numpy call per kind keeps
    generation of tens of thousands of documents to about a second."""

    # draws per document that cover the longest one: 74 words plus
    # 8 IOCs of at most 3 words, 4 octets or 64 hex digits each
    PER_DOC = {"words": 100, "small": 40, "octets": 32, "unit": 1, "hexes": 512}

    def __init__(self, rng: np.random.Generator, n_docs: int):
        n = {k: v * n_docs for k, v in self.PER_DOC.items()}
        self.words = rng.integers(len(VOCAB), size=n["words"], dtype=np.int32)
        self.small = rng.integers(1 << 30, size=n["small"], dtype=np.int32)
        self.octets = rng.integers(1, 255, size=n["octets"], dtype=np.int32)
        self.unit = rng.random(size=n["unit"])
        self.hexes = rng.bytes(n["hexes"] // 2).hex()
        self.i = dict.fromkeys(("words", "small", "octets", "unit", "hexes"), 0)

    def _take(self, kind: str, k: int = 1):
        i = self.i[kind]
        self.i[kind] = i + k
        return getattr(self, kind)[i:i + k]

    def word(self) -> str:
        return VOCAB[self._take("words")[0]]

    def below(self, n: int) -> int:
        return int(self._take("small")[0]) % n

    def octet(self) -> int:
        return int(self._take("octets")[0])

    def hex(self, n: int) -> str:
        return self._take("hexes", n)

    def unit_draw(self) -> float:
        return float(self._take("unit")[0])


def _doc_ioc(r: _Draws) -> str:
    """One IOC in a FIXTURES.md B3 form, including the near misses."""
    form = r.below(15)
    if form < 4:
        w, w2 = r.word(), r.word()
        return (f"hxxps://www[.]{w}[.]com", f"hxxp://{w}[.]example/{w2}",
                f"https://{w}.example//{w2}", f"meows://{w}[.]scheme[.]test")[form]
    if form < 8:
        a, b, c, d = r.octet(), r.octet(), r.octet(), r.octet()
        return (f"{a}[.]{b}[.]{c}[.]{d}", f"{a}.{b}.{c}[.]{d}",
                f"{a}.{b}.{c}.{d}", f"999.{b}.{c}.{d}")[form - 4]
    if form < 13:
        return r.hex((32, 40, 64, 48, 30)[form - 8])
    w, w2, w3 = r.word(), r.word(), r.word()
    if form == 13:
        return f"{w}[.]{w2}@{w3}[.]com"
    return f"mailto:{w}[.]{w2}@{w3}[.]org"


def _doc_text(r: _Draws) -> str:
    words = [r.word() for _ in range(8 + r.below(67))]
    for _ in range(r.below(7)):
        words.insert(r.below(len(words) + 1), _doc_ioc(r))
    # a few line breaks, so the reply cut has lines to cut at
    for _ in range(r.below(3)):
        i = 1 + r.below(len(words) - 1)
        words[i] = "\n" + words[i]
    text = " ".join(words)
    if r.unit_draw() < 0.2:
        quoted = " ".join([r.word(), _doc_ioc(r), r.word(), _doc_ioc(r)])
        cut = text.rfind(" ", 0, max(1, len(text) // 2))
        head = text[:cut] if cut > 0 else text
        text = f"{head}\n{REPLY_MARKER} wrote:\n> {quoted}"
    return text


def documents_table(seed: int, n_docs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    r = _Draws(rng, n_docs)
    texts = [_doc_text(r) for _ in range(n_docs)]
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array(
                [f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_documents(out_dir: str, seed: int, n_docs: int) -> str:
    """Write ``documents.parquet`` under ``out_dir`` unless it is already
    there (inputs are cached per seed); returns ``out_dir``."""
    path = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        tmp = path + ".partial"
        pq.write_table(documents_table(seed, n_docs), tmp, compression="snappy")
        os.replace(tmp, path)
    return out_dir


# --- tweet_stream files ------------------------------------------------------

def _tweet_ioc(rng: np.random.Generator) -> tuple[str, str, str]:
    """(defanged text form, type, refanged value the kernel must emit)."""
    kind = int(rng.integers(4))
    if kind == 0:
        a, b, c, d = (_octet(rng) for _ in range(4))
        return f"{a}[.]{b}[.]{c}[.]{d}", "ip", f"{a}.{b}.{c}.{d}"
    if kind == 1:
        h = _hex(rng, (32, 40, 64)[int(rng.integers(3))])
        return h, "hash", h
    w1, w2, w3 = _word(rng), _word(rng), _word(rng)
    if kind == 2:
        return (f"hxxps://{w1}[.]{w2}[.]com/{w3}", "url",
                f"https://{w1}.{w2}.com/{w3}")
    return f"{w1}@{w2}[.]com", "email", f"{w1}@{w2}.com"


def _created_at(rng: np.random.Generator) -> str:
    return (
        f"{WEEKDAYS[int(rng.integers(7))]} {MONTHS[int(rng.integers(12))]} "
        f"{int(rng.integers(1, 29)):02d} {int(rng.integers(24)):02d}:"
        f"{int(rng.integers(60)):02d}:{int(rng.integers(60)):02d} +0000 2024"
    )


def tweet_file(seed: int, index: int, min_tweets: int, max_tweets: int
               ) -> tuple[list[str], list[tuple[str, str, str]], int]:
    """Lines of file ``index`` of the stream, its manifest of expected
    ``(id, type, ioc)`` rows, and its tweet count (malformed lines
    included).  Tweet ids are unique across the files of a seed."""
    rng = np.random.default_rng([seed, 2, index])
    n = int(rng.integers(min_tweets, max_tweets + 1))
    lines: list[str] = []
    manifest: list[tuple[str, str, str]] = []
    for i in range(n):
        tid = index * 1_000_000 + i + 1
        if rng.random() < 0.02:
            lines.append('{"created_at": "%s", "id": %d, "text": "truncated'
                         % (_created_at(rng), tid))
            continue
        iocs = [_tweet_ioc(rng) for _ in range(int(rng.integers(0, 4)))]
        words = [_word(rng) for _ in range(int(rng.integers(4, 14)))]
        for form, _, _ in iocs:
            words.insert(int(rng.integers(len(words) + 1)), form)
        if rng.random() < 0.1:
            j = int(rng.integers(1, len(words)))
            words[j] = "\r\n" + words[j]
        full = " ".join(words)
        r = rng.random()
        retweet_flag = r < 0.08
        rt_prefix = 0.08 <= r < 0.2
        text = f"RT @{_word(rng)}: {full}" if rt_prefix else full
        tweet = {
            "created_at": _created_at(rng),
            "id": tid,
            "text": text,
            "retweeted": retweet_flag,
            "user": {"screen_name": f"user{int(rng.integers(500))}"},
            "entities": {
                "hashtags": [{"text": HASHTAGS[int(k)]}
                             for k in rng.integers(len(HASHTAGS),
                                                   size=int(rng.integers(0, 4)))],
                "urls": [],
            },
        }
        if len(text) > 140 or rng.random() < 0.3:
            tweet["text"] = text[:140]
            tweet["extended_tweet"] = {"full_text": text}
        lines.append(json.dumps(tweet))
        if not (retweet_flag or rt_prefix):
            manifest += [(str(tid), typ, value) for _, typ, value in iocs]
    return lines, manifest, n


def cached_tweet_file(cache_dir: str, seed: int, index: int, min_tweets: int,
                      max_tweets: int) -> tuple[str, list[tuple[str, str, str]], int]:
    """Path of the cached file ``index`` for ``seed``, with its manifest
    and tweet count; generated on first use."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"tweets-{index:05d}.json")
    meta = path + ".manifest"
    if not os.path.exists(meta):
        lines, manifest, n = tweet_file(seed, index, min_tweets, max_tweets)
        with open(path + ".partial", "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(path + ".partial", path)
        with open(meta + ".partial", "w") as f:
            json.dump({"n": n, "rows": manifest}, f)
        os.replace(meta + ".partial", meta)
    with open(meta) as f:
        m = json.load(f)
    return path, [tuple(r) for r in m["rows"]], m["n"]
