"""Seeded input generator for the benchmark workloads.

Vocabulary, document length and language mix come from ``profile.json``,
a summary of the sf0.1 ``documents`` fixture (regenerate it with
``python3 perfbench/gen.py profile <documents.parquet>``). Everything
else is drawn from ``numpy.random.default_rng(seed)``, so one seed gives
byte-identical files and another seed gives other files.

Two corpus shapes:

- ``write_pages``: a web-page parquet corpus in several files (url,
  warc_ts, html, text, lang, doc_id, source), the shape
  ``scripts/run_filter.py`` reads. With ``pii=True`` about 4/7 of the
  docs carry one email, phone number, IPv4 address or SSN at a random
  token position; with ``pii=False`` the same random stream is drawn and
  the PII is left out, so both variants share every other byte of text.
- ``write_wet``: a CRLF-framed Common-Crawl WET crawl in several files,
  the shape ``scripts/build_corpus.py`` reads, with planted exact copies
  and near-duplicate copies (one token replaced) of earlier docs.

Text uses ASCII spaces only. The JVM rules and the pandas oracle split
non-ASCII whitespace differently (a known, separately tracked defect);
the generator does not produce such text, and it does not filter what it
generates to avoid any other behaviour.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

PROFILE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "profile.json")

# one doc in 7 for each PII kind: 4/7 of the docs carry PII
PII_KINDS = ("email", "phone", "ipv4", "ssn", None, None, None)
PII_SHARE = 4 / 7
# WET crawl: share of records that are exact / near-duplicate copies
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
TLDS = ("com", "org", "net", "io", "de")


def load_profile(path: str = PROFILE_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def profile_from_documents(parquet_path: str) -> dict:
    """Summarise a documents fixture: word frequencies, token-count
    histogram and language mix."""
    import collections

    import pandas as pd
    docs = pd.read_parquet(parquet_path, columns=["text", "lang"])
    toks = docs["text"].str.split()
    words = collections.Counter(w for ws in toks for w in ws)
    lengths = collections.Counter(int(n) for n in toks.str.len())
    langs = collections.Counter(docs["lang"])
    return {
        "source": os.path.basename(os.path.dirname(parquet_path)) + "/"
        + os.path.basename(parquet_path),
        "n_docs": int(len(docs)),
        "words": sorted(words.items()),
        "n_tokens": sorted(lengths.items()),
        "langs": sorted(langs.items()),
    }


def pii_span(kind: str | None, a: int, b: int, c: int, d: int,
             w1: str, w2: str, fmt: int) -> str | None:
    """One PII span of ``kind`` built from pre-drawn numbers and words."""
    if kind == "email":
        return f"{w1}.{w2}{a % 1000}@{w2}{b % 100}.{TLDS[c % len(TLDS)]}"
    if kind == "phone":
        n3, m3 = 200 + a % 800, 200 + b % 800
        return (f"{n3}-{m3}-{c:04d}", f"({n3}) {m3}-{c:04d}",
                f"+1 {n3}.{m3}.{c:04d}")[fmt]
    if kind == "ipv4":
        return f"{a % 256}.{b % 256}.{c % 256}.{d % 256}"
    if kind == "ssn":
        return f"{100 + a % 900}-{10 + b % 90}-{c:04d}"
    return None


def draw_docs(profile: dict, rng: np.random.Generator, n: int,
              pii: bool) -> list[tuple[str, str, str]]:
    """n (text, lang, source) triples. Every draw is made whether or not
    ``pii`` is set, so the PII and clean variants of one seed differ
    only by the inserted spans."""
    words, wc = zip(*profile["words"])
    words = np.array(words)
    word_p = np.array(wc, dtype=float) / sum(wc)
    lens, lc = zip(*profile["n_tokens"])
    langs, gc = zip(*profile["langs"])
    n_tok = rng.choice(np.array(lens), size=n,
                       p=np.array(lc, dtype=float) / sum(lc))
    lang = rng.choice(np.array(langs), size=n,
                      p=np.array(gc, dtype=float) / sum(gc))
    toks = words[rng.choice(len(words), size=int(n_tok.sum()), p=word_p)]
    kind = rng.integers(len(PII_KINDS), size=n)
    nums = rng.integers(0, 10000, size=(n, 4))
    pii_words = words[rng.integers(len(words), size=(n, 2))]
    fmt = rng.integers(3, size=n)
    pos = rng.integers(0, n_tok + 1)
    src = rng.integers(20, size=n)
    out = []
    ends = np.cumsum(n_tok)
    for i in range(n):
        doc = list(toks[ends[i] - n_tok[i]:ends[i]])
        span = pii_span(PII_KINDS[kind[i]], *(int(x) for x in nums[i]),
                        *pii_words[i], int(fmt[i]))
        if pii and span is not None:
            doc.insert(int(pos[i]), span)
        out.append((" ".join(doc), str(lang[i]), f"src{src[i]}"))
    return out


def page_rows(n_docs: int, seed: int, pii: bool,
              profile: dict | None = None) -> list[dict]:
    docs = draw_docs(profile or load_profile(),
                     np.random.default_rng(seed), n_docs, pii)
    return [{"doc_id": i, "text": text, "lang": lang, "source": src,
             "url": f"https://{src}.example.com/doc/{i}"}
            for i, (text, lang, src) in enumerate(docs)]


def write_pages(out_dir: str, n_docs: int, n_files: int, seed: int,
                pii: bool) -> list[dict]:
    """Write the web-page parquet corpus; returns the rows written."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = page_rows(n_docs, seed, pii)
    os.makedirs(out_dir, exist_ok=True)
    base = np.datetime64("2024-01-01T00:00:00", "us")
    for f in range(n_files):
        part = rows[f::n_files]
        table = pa.table({
            "url": [r["url"] for r in part],
            "warc_ts": pa.array(
                base + np.array([r["doc_id"] for r in part],
                                dtype="timedelta64[m]"),
                pa.timestamp("us", tz="UTC")),
            "html": [f"<html><body>{r['text']}</body></html>".encode()
                     for r in part],
            "text": [r["text"] for r in part],
            "lang": [r["lang"] for r in part],
            "doc_id": pa.array([r["doc_id"] for r in part], pa.int64()),
            "source": [r["source"] for r in part],
        })
        pq.write_table(table, os.path.join(out_dir,
                                           f"part-{f:03d}.parquet"))
    return rows


def wet_rows(n_docs: int, seed: int,
             profile: dict | None = None) -> list[dict]:
    """Crawl records: originals with PII, then planted copies. Each row
    carries ``planted`` ('exact' / 'near' / None) and ``of`` (the url of
    the original it copies)."""
    rng = np.random.default_rng(seed)
    n_exact = int(n_docs * EXACT_DUP_SHARE)
    n_near = int(n_docs * NEAR_DUP_SHARE)
    n_orig = n_docs - n_exact - n_near
    rows = [{"url": f"https://{src}.example.com/page/{i}", "text": text,
             "planted": None, "of": None}
            for i, (text, _lang, src) in enumerate(
                draw_docs(profile or load_profile(), rng, n_orig, True))]
    originals = rng.choice(n_orig, size=n_exact + n_near, replace=False)
    for k, j in enumerate(originals):
        orig = rows[int(j)]
        text = orig["text"]
        if k >= n_exact:
            # near copy: one token gets a suffix no vocabulary word has
            toks = text.split(" ")
            t = int(rng.integers(len(toks)))
            toks[t] += "x"
            text = " ".join(toks)
        rows.append({"url": f"https://mirror{k % 7}.example.net/copy/{k}",
                     "text": text,
                     "planted": "exact" if k < n_exact else "near",
                     "of": orig["url"]})
    order = rng.permutation(len(rows))
    return [rows[int(i)] for i in order]


def wet_record(rec_type: str, headers: list[tuple[str, str]],
               payload: str) -> str:
    body = payload.encode("utf-8")
    head = "".join(f"{k}: {v}\r\n" for k, v in
                   [("WARC-Type", rec_type)] + headers
                   + [("Content-Length", str(len(body)))])
    return f"WARC/1.0\r\n{head}\r\n{payload}\r\n\r\n"


def write_wet(out_dir: str, n_docs: int, n_files: int,
              seed: int) -> list[dict]:
    """Write the WET crawl (one warcinfo record heads each file);
    returns the conversion records written."""
    rows = wet_rows(n_docs, seed)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        parts = [wet_record("warcinfo", [
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("WARC-Record-ID", f"<urn:uuid:info-{seed}-{f}>")],
            "software: perfbench\r\nformat: WET")]
        for i in range(f, len(rows), n_files):
            ts = np.datetime64("2024-01-01T00:00:00") + np.timedelta64(i, "s")
            parts.append(wet_record("conversion", [
                ("WARC-Target-URI", rows[i]["url"]),
                ("WARC-Date", f"{ts}Z"),
                ("WARC-Record-ID", f"<urn:uuid:{seed}-{i}>"),
                ("Content-Type", "text/plain")], rows[i]["text"]))
        with open(os.path.join(out_dir, f"crawl-{f:03d}.wet"), "wb") as fh:
            fh.write("".join(parts).encode("utf-8"))
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "profile":
        sys.exit("usage: python3 perfbench/gen.py profile "
                 "<documents.parquet>")
    prof = profile_from_documents(sys.argv[2])
    with open(PROFILE_PATH, "w") as out:
        out.write("{\n" + ",\n".join(f" {json.dumps(k)}: {json.dumps(v)}"
                                     for k, v in prof.items()) + "\n}\n")
    print(f"wrote {PROFILE_PATH}: {len(prof['words'])} words, "
          f"{prof['n_docs']} docs")
