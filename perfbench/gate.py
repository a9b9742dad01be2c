"""Output gate: every committed output checked against the corpus goldens.

A document fails when any of these differs from its golden slice:

- its span sequence on (kind, text, media_ref, order);
- its CSV rows (page, row and the seven value columns), exactly;
- its ``to_csv_strings`` string (one-shot path): exact text, and every
  page block ends with a blank line;
- its quarantine rows: a junk document has exactly its one expected
  ``media_error`` row, any other document has none.

For the checkpointed path, run-level checks come on top: the resume leg
skips exactly the buckets the crash leg processed, no bucket is left or
extracted twice, and the ``run_metrics`` sums equal the committed tables'
counts. A failed
run-level check fails every document of that run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd

SPAN_COLS = ["kind", "text", "media_ref", "order"]
ROW_COLS = ["page", "row", "name", "time_in", "time_out", "hours", "purpose",
            "date", "day"]


@dataclass
class GateResult:
    attempted: int
    failed_docs: set = field(default_factory=set)
    problems: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return len(self.failed_docs)

    def fail(self, doc_id: str, what: str) -> None:
        self.failed_docs.add(doc_id)
        if len(self.problems) < 20:
            self.problems.append(f"{doc_id}: {what}")


def _clean(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    return v.item() if hasattr(v, "item") else v  # numpy scalar -> Python


def _by_doc(df: pd.DataFrame, cols: list[str], sort: list[str]) -> dict:
    out: dict[str, list] = {}
    if df.empty:
        return out
    df = df.sort_values(["doc_id"] + sort, kind="stable")
    for doc_id, part in df.groupby("doc_id", sort=False):
        out[doc_id] = [
            tuple(_clean(v) for v in rec)
            for rec in part[cols].astype(object).itertuples(index=False)
        ]
    return out


def _read(path: str, columns: list[str]) -> pd.DataFrame:
    """A committed parquet table (partition columns dropped); an absent
    table reads as empty."""
    if not os.path.exists(path):
        return pd.DataFrame(columns=columns)
    return pd.read_parquet(path, columns=columns)


def expected_csv(rows: list[tuple]) -> str:
    """``to_csv_strings`` semantics: rows comma-joined with NULLs skipped,
    newline-joined per page in row order, each page block followed by a
    blank line, pages in page order."""
    pages: dict[int, list[tuple]] = {}
    for r in rows:
        pages.setdefault(int(r[0]), []).append(r)
    blocks = []
    for page in sorted(pages):
        lines = [
            ",".join(v for v in r[2:] if v is not None)
            for r in sorted(pages[page], key=lambda r: int(r[1]))
        ]
        blocks.append("\n".join(lines) + "\n\n")
    return "".join(blocks)


class Goldens:
    """The corpus's golden slices, grouped per document, read once."""

    def __init__(self, corpus_dir: str):
        docs = pd.read_parquet(os.path.join(corpus_dir, "documents.parquet"),
                               columns=["doc_id"])
        self.doc_ids = sorted(docs["doc_id"])
        exp_spans = pd.read_parquet(os.path.join(corpus_dir, "expected_spans.parquet"))
        exp_rows = pd.read_parquet(os.path.join(corpus_dir, "expected_rows.parquet"))
        self.spans = _by_doc(exp_spans, SPAN_COLS, ["order"])
        self.rows = _by_doc(exp_rows, ROW_COLS, ["page", "row"])
        self.csv = {d: expected_csv(r) for d, r in self.rows.items()}
        qpath = os.path.join(corpus_dir, "expected_quarantine.parquet")
        q = pd.read_parquet(qpath) if os.path.exists(qpath) else pd.DataFrame(
            columns=["doc_id", "kind", "media_ref", "offset"])
        self.quarantine = _by_doc(q, ["kind", "media_ref", "offset"], ["offset"])


def _check_docs(g: Goldens, res: GateResult, spans: pd.DataFrame,
                rows: pd.DataFrame) -> None:
    got_spans = _by_doc(spans, SPAN_COLS, ["order"])
    got_rows = _by_doc(rows, ROW_COLS, ["page", "row"])
    known = set(g.doc_ids)
    for doc_id in sorted((set(got_spans) | set(got_rows)) - known):
        res.fail(doc_id, "output for a document not in the input")
    for doc_id in g.doc_ids:
        want, got = g.spans.get(doc_id, []), got_spans.get(doc_id, [])
        if got != want:
            if not got and want:
                res.fail(doc_id, "missing: no spans committed")
            else:
                res.fail(doc_id, f"span sequence differs ({len(got)} vs "
                                 f"{len(want)} golden spans)")
        if got_rows.get(doc_id, []) != g.rows.get(doc_id, []):
            res.fail(doc_id, "CSV rows differ from golden rows")


def check_one_shot(g: Goldens, out_dir: str) -> GateResult:
    """Gate the five sinks of one ``extract`` + sinks run in ``out_dir``."""
    res = GateResult(attempted=len(g.doc_ids))
    spans = _read(os.path.join(out_dir, "spans"), ["doc_id"] + SPAN_COLS)
    rows = _read(os.path.join(out_dir, "rows"), ["doc_id"] + ROW_COLS)
    csv = _read(os.path.join(out_dir, "csv"), ["doc_id", "csv"])
    quar = _read(os.path.join(out_dir, "quarantine"),
                 ["doc_id", "kind", "media_ref", "offset"])
    review = _read(os.path.join(out_dir, "review"), ["doc_id"])
    _check_docs(g, res, spans, rows)

    got_csv = dict(zip(csv["doc_id"], csv["csv"]))
    if len(got_csv) != len(csv):
        res.fail(csv["doc_id"][csv["doc_id"].duplicated()].iloc[0],
                 "more than one CSV string")
    for doc_id in set(got_csv) | set(g.csv):
        text, want = got_csv.get(doc_id), g.csv.get(doc_id)
        if text is not None and (
            not text.endswith("\n\n") or "" in text.split("\n\n")[:-1]
        ):
            res.fail(doc_id, "a CSV page block does not end with a blank line")
        elif text != want:
            res.fail(doc_id, "CSV string differs from golden rows")

    got_q = _by_doc(quar, ["kind", "media_ref", "offset"], ["offset"])
    for doc_id in set(got_q) | set(g.quarantine):
        if got_q.get(doc_id, []) != g.quarantine.get(doc_id, []):
            res.fail(doc_id, f"quarantined {len(got_q.get(doc_id, []))}x, "
                             f"expected {len(g.quarantine.get(doc_id, []))}x")
    res.counts = {"spans": len(spans), "rows": len(rows), "csv": len(csv),
                  "quarantine": len(quar), "review": len(review)}
    return res


def check_checkpointed(g: Goldens, out_dir: str, crash: dict, resume: dict,
                       metrics: list[dict]) -> GateResult:
    """Gate a crash + resume pair of ``run_extract_checkpointed`` calls
    from its committed ``extracted`` / ``rows`` tables and run state."""
    res = GateResult(attempted=len(g.doc_ids))
    spans = _read(os.path.join(out_dir, "extracted"), ["doc_id"] + SPAN_COLS)
    rows = _read(os.path.join(out_dir, "rows"), ["doc_id"] + ROW_COLS)
    _check_docs(g, res, spans, rows)

    run_level = []
    if resume["skipped"] != crash["processed"]:
        run_level.append(f"resume skipped {resume['skipped']} buckets, crash "
                         f"leg processed {crash['processed']}")
    if resume["remaining"] != 0:
        run_level.append(f"{resume['remaining']} buckets left after resume")
    extracted = crash["processed"] + resume["processed"]
    if extracted != crash["n_buckets"]:
        run_level.append(f"{extracted} bucket extractions for "
                         f"{crash['n_buckets']} buckets")
    sums = {k: sum(m[k] or 0 for m in metrics)
            for k in ("docs_done", "span_count", "row_count")}
    committed = {"docs_done": spans["doc_id"].nunique(),
                 "span_count": len(spans), "row_count": len(rows)}
    if sums != committed:
        run_level.append(f"run_metrics {sums} != committed {committed}")
    for what in run_level:
        res.problems.append(f"run: {what}")
        res.failed_docs.update(g.doc_ids)
    res.counts = {"spans": len(spans), "rows": len(rows)}
    return res
