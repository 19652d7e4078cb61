"""Output checks for the benchmark passes.

Every check reads the files a pass wrote (pyarrow, no Spark) and returns
a list of error strings: an empty list means the pass is correct. The
expected values come from ``luzzu_spark.oracle_pandas``, the pandas
reimplementation of the rule spec, computed once per generated input.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import pyarrow.parquet as pq

from luzzu_spark.rules.scrub import SCRUB_CHAIN

EMAIL_RE = re.compile(dict((n, p) for n, p, _ in SCRUB_CHAIN)["email"])


def oracle_sample(rows: list[dict]) -> list[dict]:
    """Expected verdict for each sampled input row (url, text)."""
    import pandas as pd

    from luzzu_spark.oracle_pandas import assess_frame
    frame = assess_frame(pd.DataFrame({"url": [r["url"] for r in rows],
                                       "text": [r["text"] for r in rows]}))
    return [{"url": u, "keep": bool(k), "drop_reasons": list(d),
             "text_scrubbed": t}
            for u, k, d, t in zip(frame["url"], frame["keep"],
                                  frame["drop_reasons"],
                                  frame["text_scrubbed"])]


def read_rows(paths: list[str], cols=("url", "text")) -> list[dict]:
    out: list[dict] = []
    for p in sorted(paths):
        out.extend(pq.read_table(p, columns=list(cols)).to_pylist())
    return out


def digest(rows: list[dict]) -> str:
    """Order-independent digest of (url, text) rows."""
    h = hashlib.md5()
    for r in sorted((r["url"], r["text"]) for r in rows):
        h.update(f"{r[0]}\t{r[1]}\n".encode())
    return h.hexdigest()


def check_filter_pass(out_dir: str, sample: list[dict],
                      n_docs: int) -> tuple[list[str], str]:
    """run_job output: the kept corpus under batch=*/ and the lineage
    counts under metrics/batch=*/. Sampled rows must be kept exactly
    when the oracle keeps them, with the oracle's scrubbed text."""
    rows = read_rows(glob.glob(os.path.join(out_dir, "batch=*", "*.parquet")))
    errors: list[str] = []
    text = {r["url"]: r["text"] for r in rows}
    if len(text) != len(rows):
        errors.append(f"{len(rows) - len(text)} duplicate urls in output")
    for exp in sample:
        got = text.get(exp["url"])
        if exp["keep"] and got != exp["text_scrubbed"]:
            errors.append(f"{exp['url']}: expected kept text "
                          f"{exp['text_scrubbed']!r}, got {got!r}")
        elif not exp["keep"] and got is not None:
            errors.append(f"{exp['url']}: dropped by "
                          f"{exp['drop_reasons']} but present in output")
    lineage = read_rows(glob.glob(os.path.join(
        out_dir, "metrics", "batch=*", "*.parquet")), ("n_docs", "n_keep"))
    seen = sum(r["n_docs"] for r in lineage)
    kept = sum(r["n_keep"] for r in lineage)
    if seen != n_docs or kept != len(rows):
        errors.append(f"lineage counts {seen} docs / {kept} kept, "
                      f"expected {n_docs} / {len(rows)}")
    return errors, digest(rows)


def check_assessment(actual: dict[str, dict],
                     sample: list[dict]) -> list[str]:
    """Per-row verdicts of QualityPipeline.assess against the oracle:
    keep, drop_reasons (in rule order) and text_scrubbed."""
    errors = []
    for exp in sample:
        got = actual.get(exp["url"])
        want = {k: exp[k] for k in ("keep", "drop_reasons",
                                    "text_scrubbed")}
        if got != want:
            errors.append(f"{exp['url']}: assess gave {got}, "
                          f"oracle {want}")
    return errors


def check_corpus_pass(out_dir: str, funnel: dict,
                      exact_groups: list[list[str]]) -> tuple[list[str],
                                                              str]:
    """build_corpus output: at most one member of every planted exact
    copy group survives, no email survives the scrub, and the funnel
    agrees with what was written. The digest covers funnel and rows."""
    rows = read_rows(glob.glob(os.path.join(out_dir, "*.parquet")))
    urls = {r["url"] for r in rows}
    errors = []
    for group in exact_groups:
        alive = [u for u in group if u in urls]
        if len(alive) > 1:
            errors.append(f"exact copies survived: {alive}")
    leaked = [r["url"] for r in rows if EMAIL_RE.search(r["text"] or "")]
    if leaked:
        errors.append(f"{len(leaked)} docs still carry an email, "
                      f"e.g. {leaked[0]}")
    if funnel.get("written") != len(rows):
        errors.append(f"funnel says {funnel.get('written')} written, "
                      f"output has {len(rows)} rows")
    return errors, json.dumps(funnel, sort_keys=True) + digest(rows)


class Tally:
    """Attempted and failed passes; a pass fails if it raised or any of
    its checks returned an error."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.reference: str | None = None
        self.last_ok = False

    def record(self, errors: list[str], pass_digest: str | None) -> bool:
        """Count one pass. The first digest is the reference every
        later pass must reproduce."""
        errors = list(errors)
        if pass_digest is not None:
            if self.reference is None:
                self.reference = pass_digest
            elif pass_digest != self.reference:
                errors.append("output digest differs from the first pass")
        self.attempted += 1
        self.last_ok = not errors
        if errors:
            self.failed += 1
            self.errors.extend(errors[:5])
        return not errors

    def fail_last(self, errors: list[str]) -> None:
        """Add errors found later to the latest pass."""
        if errors:
            self.failed += self.last_ok
            self.last_ok = False
            self.errors.extend(errors[:5])

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
