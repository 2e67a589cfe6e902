"""Seeded input generator for the ingest benchmark.

Every input is a pure function of (seed, workload parameters): the same seed
always yields byte-identical parquet files. The program under test only ever
sees the files.

Rows follow the pipeline's input schema (url, warc_ts, html, text, lang).
Each input carries the 61 golden fixture documents first (earliest
timestamps, so they win keep-first dedup), then synthetic web pages:
~60% clean prose and the rest tripping one rule of the puddin battery each.
The generator also reports what a correct run must commit, so the benchmark
can check counts exactly.
"""
from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# function words keep the prose above the Gopher stopword and word-length
# floors, so the quality gates flip only a minority of pages
_STOP = "the of and to that with have be for was on as at by from".split()
_SYLL = "ka lo mi re tu san vel dor fin gra hop lin mor nes pra qui ros tel ur wen".split()


def _vocab() -> list[str]:
    """2.4k pseudo-words (seed-independent): wide enough that unrelated
    pages share few shingles, so near-dup candidates come from the planted
    near-copies rather than from a tiny template vocabulary."""
    words = set()
    for a in _SYLL:
        for b in _SYLL:
            words.add(a + b)
            for c in ("n", "r", "s", "ta", "lo"):
                words.add(a + b + c)
    return sorted(words)


VOCAB = _vocab()
# one uniform draw per word from a pool that is ~35% function words
_POOL = VOCAB + _STOP * round(0.35 / 0.65 * len(VOCAB) / len(_STOP))

# rule-tripping tails, one excl_type class of the reference battery each
_TAILS = [
    " <nowiki> template follows.",  # wiki
    ' <div class="note">inline markup</div> end.',  # html
    ' config {"outer":{"inner": 1}} tail.',  # json
    " check flag == true before running.",  # code
    " the config_value was wrong.",  # _wrd
    " download mp4converter today.",  # a0wrd
    " assault...Related articles below.",  # punc
]
DUP_FRAC = 0.06  # rows repeating an earlier page's exact text under a new url
NONEN_FRAC = 0.04  # non-English rows
NEAR_EVERY = 10  # every 10th row is a near-copy, when near_from is given
TWIN_EVERY = 6  # see make_input's near_from
# a near-copy origin is clean prose long enough to pass the Gopher word
# floor, so it is committed as kept and indexed by the near-dup sidecars
ORIGIN_MIN_WORDS = 80


@dataclass
class Input:
    """One generated input: where it lives and what a run must commit."""

    path: str
    n_rows: int
    text_bytes: int
    expected_committed: int  # distinct english texts (keep-first winners)
    text_by_url: dict[str, str] = field(repr=False, default_factory=dict)  # english rows
    origins: list[str] = field(repr=False, default_factory=list)  # for later near-copies


def load_golden(repo_root: Path) -> list[dict]:
    return json.loads((repo_root / "tests" / "fixtures" / "golden.json").read_text())


FIXTURE_PREFIX = "https://fixtures.example.org/"


def golden_url(rec: dict) -> str:
    return f"{FIXTURE_PREFIX}{rec['sample']}/{rec['text_id']}"


class PageGen:
    """Synthetic pages from one seeded stream. `salt` separates the streams
    of different inputs of one run (incremental batches) so no two batches
    share a page by accident."""

    def __init__(self, seed: int, salt: str):
        self.rng = random.Random(f"{seed}:{salt}")
        self.salt = salt

    def sentence(self) -> str:
        ws = self.rng.choices(_POOL, k=self.rng.randint(7, 15))
        return ws[0].capitalize() + " " + " ".join(ws[1:]) + "."

    def prose(self, n_sents: int) -> str:
        r = self.rng
        lines, cur = [], []
        for _ in range(n_sents):
            cur.append(self.sentence())
            if r.random() < 0.3:
                lines.append(" ".join(cur))
                cur = []
        if cur:
            lines.append(" ".join(cur))
        out = lines[0]
        for ln in lines[1:]:
            out += ("\n\n" if r.random() < 0.5 else "\n") + ln
        return out

    def page(self) -> tuple[str, bool]:
        """One page, ~0.3-2 KB, and whether it is clean prose: 60% clean
        prose, 7% url-laden or accented (scrubbed, kept), the rest one
        rule-tripping class each."""
        r = self.rng
        x = r.random()
        body = self.prose(r.randint(5, 22))
        if x < 0.60:
            return body, True
        if x < 0.64:
            return f"Read more at https://news.example.com/{r.getrandbits(32):x} today.\n" + body, False
        if x < 0.67:
            return body.replace("the ", "thé ", 2) + " Café crème.", False
        return body + _TAILS[r.randrange(len(_TAILS))], False

    def url(self) -> str:
        return f"https://bench.example.org/{self.salt}/{self.rng.getrandbits(64):016x}"


def near_copy(rng: random.Random, text: str, shuffle: bool) -> str:
    """A near-duplicate of `text`: swap one word (word-shingle Jaccard
    stays high, so the minhash sidecar flags it), or with `shuffle`
    shuffle the inner words of every line (shingles break, but the
    multiset of tokens and thus the embedding is unchanged, so only the
    SRP sidecar flags it)."""
    if not shuffle:
        words = text.split(" ")
        i = rng.randrange(1, len(words) - 1)
        words[i] = rng.choice(VOCAB)
        return " ".join(words)
    out = []
    for line in text.split("\n"):
        ws = line.split(" ")
        if len(ws) > 3:
            inner = ws[1:-1]
            rng.shuffle(inner)
            ws = [ws[0]] + inner + [ws[-1]]
        out.append(" ".join(ws))
    return "\n".join(out)


def _write(path: Path, rows: list[tuple], n_files: int) -> None:
    path.mkdir(parents=True, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        if not chunk:
            break
        cols = list(zip(*chunk))
        table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, SCHEMA)], schema=SCHEMA)
        pq.write_table(table, path / f"part-{i:05d}.parquet")


def make_input(
    path: Path,
    seed: int,
    salt: str,
    n_rows: int,
    *,
    golden: list[dict] | None = None,
    near_from: list[str] | None = None,
    ts_offset: int = 0,
    n_files: int = 8,
) -> Input:
    """Write one input of n_rows pages under `path`.

    - golden: fixture docs placed first (earliest warc_ts).
    - DUP_FRAC of the rows repeat an earlier page's exact text under a
      new url (keep-first losers); NONEN_FRAC are non-English.
    - near_from: origins of earlier batches. When given, every
      NEAR_EVERY-th row is a near-copy of one, for the near-dup sidecars.
      Each origin is copied at most once, except that every TWIN_EVERY-th
      copy repeats the previous origin. Copies alternate between a word
      swap and a shuffle, but a twin and the copy before it are both word
      swaps: they near-duplicate each other inside the batch, so every
      batch resolves the same number of minhash clusters. The count and
      kind of near-copies is thus the same for every seed, and so is the
      sidecars' work (the rounds of cluster resolution, for one).
    """
    gen = PageGen(seed, salt)
    r = gen.rng
    rows: list[tuple] = []
    text_by_url: dict[str, str] = {}
    ts = ts_offset

    def add(url, text, lang, html=None):
        nonlocal ts
        rows.append((url, _EPOCH + dt.timedelta(seconds=ts), html, text, lang))
        ts += 1
        if lang == "en":
            text_by_url[url] = text

    for rec in golden or []:
        add(golden_url(rec), rec["raw"], "en")
    fresh: list[str] = []
    new_origins: list[str] = []
    origins = r.sample(near_from, len(near_from)) if near_from else []
    n_near, src = 0, None
    while len(rows) < n_rows:
        if origins and len(rows) % NEAR_EVERY == NEAR_EVERY - 1:
            n_near += 1
            twin = n_near % TWIN_EVERY == 0
            if not twin:
                src = origins.pop()
            shuffle = n_near % 2 == 0 and not twin
            add(gen.url(), near_copy(r, src, shuffle), "en")
            continue
        x = r.random()
        if x < NONEN_FRAC:
            add(gen.url(), f"Der alte Turm stand still am Fluss bei Nacht {r.getrandbits(40)}.", r.choice(("de", "fr")))
        elif x < NONEN_FRAC + DUP_FRAC and fresh:
            add(gen.url(), r.choice(fresh), "en")
        else:
            t, clean = gen.page()
            fresh.append(t)
            if clean and len(t.split()) >= ORIGIN_MIN_WORDS:
                new_origins.append(t)
            add(gen.url(), t, "en", b"<html><body>" + t[:64].encode() + b"</body></html>" if r.random() < 0.3 else None)
    _write(path, rows, n_files)
    return Input(
        path=str(path),
        n_rows=len(rows),
        text_bytes=sum(len(row[3].encode()) for row in rows),
        expected_committed=len(set(text_by_url.values())),
        text_by_url=text_by_url,
        origins=new_origins,
    )
