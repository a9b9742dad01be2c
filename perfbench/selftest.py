"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # corpus and gate checks, no Spark
    python3 perfbench/selftest.py --smoke    # plus a tiny run of each workload

Checks:

- the ``scan`` slice holds no markup spans and the ``markup`` slice no
  media spans;
- a slice and its goldens equal the same documents cut out of a
  ``write_corpus`` run, so the sliced goldens align with their documents;
- the gate passes outputs equal to the goldens and fails a document whose
  golden row, CSV string or quarantine row is corrupted;
- the ``scan`` slice skips exactly the documents whose PDFs hit the known
  read-back defect (``corpus.PDF_DEFECT_TAIL``), lists them, and reports
  whether the engine still fails on them;
- ``--smoke``: a tiny run of every workload, untraced and traced, passes
  its gate and prints exactly the metrics ``BENCHMARK.json`` names (the
  ``resume`` workload, which the file does not list, the same names).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import gate  # noqa: E402
from ocr_to_csv_spark.datagen import gen  # noqa: E402


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def check_slice_kinds(cache: str) -> None:
    for workload, banned in (("scan", corpus.MARKUP_KINDS),
                             ("markup", corpus.MEDIA_KINDS)):
        cdir, summary = corpus.build(workload, 3, 4, cache)
        present = {k for k, n in summary["spans"].items() if n}
        _check(present and not present & banned,
               f"{workload} slice has span kinds {sorted(present)}")
    print("ok  slice kinds")


def check_slices_match_write_corpus(cache: str, tmp: str) -> None:
    seed = 3
    for workload in ("scan", "markup"):
        cdir, _ = corpus.build(workload, seed, 4, cache, megas=0)
        docs = pd.read_parquet(os.path.join(cdir, "documents.parquet"))
        ids = sorted(d for d in docs["doc_id"] if not d.startswith("doc-junk-"))
        full = os.path.join(tmp, f"full-{workload}")
        gen.write_corpus(full, int(ids[-1].split("-")[1]) + 1, seed=seed)
        for name, key in (("expected_spans", ["doc_id", "order"]),
                          ("expected_rows", ["doc_id", "page", "row"])):
            want = pd.read_parquet(os.path.join(full, f"{name}.parquet"))
            want = want[want["doc_id"].isin(ids)].sort_values(key)
            got = pd.read_parquet(os.path.join(cdir, f"{name}.parquet")).sort_values(key)
            pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                          want.reset_index(drop=True))
        want_docs = pd.read_parquet(os.path.join(full, "documents.parquet"))
        want_docs = want_docs[want_docs["doc_id"].isin(ids)].sort_values("doc_id")
        got_docs = docs[docs["doc_id"].isin(ids)].sort_values("doc_id")
        for (_, w), (_, g) in zip(want_docs.iterrows(), got_docs.iterrows()):
            _check(w["doc_id"] == g["doc_id"] and
                   [dict(s) for s in w["spans"]] == [dict(s) for s in g["spans"]],
                   f"{workload}: document {g['doc_id']} differs from write_corpus")
    print("ok  slices equal write_corpus slices")


def _fake_outputs(cdir: str, out: str) -> None:
    """One-shot sink tables that equal the corpus goldens."""
    g = gate.Goldens(cdir)
    spans = pd.read_parquet(os.path.join(cdir, "expected_spans.parquet"))
    rows = pd.read_parquet(os.path.join(cdir, "expected_rows.parquet"))
    qpath = os.path.join(cdir, "expected_quarantine.parquet")
    quar = pd.read_parquet(qpath) if os.path.exists(qpath) else pd.DataFrame(
        {"doc_id": [], "kind": [], "media_ref": [], "offset": []})
    csv = pd.DataFrame({"doc_id": list(g.csv), "csv": list(g.csv.values())})
    for name, df in (("spans", spans), ("rows", rows), ("csv", csv),
                     ("quarantine", quar), ("review", spans[["doc_id"]].head(0))):
        os.makedirs(os.path.join(out, name))
        df.to_parquet(os.path.join(out, name, "part-0.parquet"), index=False)


def check_gate(cache: str, tmp: str) -> None:
    cdir, _ = corpus.build("scan", 3, 4, cache)
    ok = os.path.join(tmp, "gate-ok")
    _fake_outputs(cdir, ok)
    res = gate.check_one_shot(gate.Goldens(cdir), ok)
    _check(res.failed == 0, f"gate rejects golden-equal outputs: {res.problems}")

    # a corrupted golden row: the outputs no longer match it
    bad = os.path.join(tmp, "corpus-bad")
    shutil.copytree(cdir, bad)
    rows = pd.read_parquet(os.path.join(bad, "expected_rows.parquet"))
    victim = rows["doc_id"].iloc[0]
    rows.loc[0, "time_in"] = "99:99"
    rows.to_parquet(os.path.join(bad, "expected_rows.parquet"), index=False)
    res = gate.check_one_shot(gate.Goldens(bad), ok)
    _check(res.failed_docs == {victim},
           f"corrupted golden row: failed {res.failed_docs}, expected {{{victim}}}")

    # a junk document that was not quarantined
    quar = os.path.join(ok, "quarantine", "part-0.parquet")
    pd.read_parquet(quar).head(0).to_parquet(quar, index=False)
    res = gate.check_one_shot(gate.Goldens(cdir), ok)
    _check(res.failed == 1 and next(iter(res.failed_docs)).startswith("doc-junk-"),
           f"unquarantined junk not caught: {res.problems}")
    print("ok  gate passes goldens and rejects corrupted rows")


def check_pdf_defect() -> None:
    """Seed 5 document 53 holds a PDF whose Flate stream ends in ``\\r``."""
    from ocr_to_csv_spark.sources.pdf import extract_page_images

    seed, victim = 5, "doc-000053"
    tables, skipped = corpus.select("scan", seed, 13, 0)
    _check(skipped == [victim], f"scan seed {seed} skipped {skipped}, "
           f"expected [{victim}]")
    for blob in tables["media"]["content"]:
        if bytes(blob).startswith(b"%PDF"):
            extract_page_images(bytes(blob))  # every kept PDF reads back
    part = gen.gen_corpus(1, seed, start=53)
    _check(corpus.hits_pdf_defect(part), f"{victim} no longer hits the defect")
    try:
        for blob in part["media"]["content"]:
            if bytes(blob).startswith(b"%PDF"):
                extract_page_images(bytes(blob))
    except Exception as exc:  # the defect as the pipeline meets it
        print(f"ok  pdf defect skipped and reported; engine still fails on "
              f"{victim}: {exc!r}")
    else:
        print(f"ok  pdf defect skipped and reported; the engine now reads "
              f"{victim}, so corpus.PDF_DEFECT_TAIL can go")


def check_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for workload in ("scan", "markup", "resume"):
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 workload, "--seed", "7", "--seconds", "1", "--trace",
                 str(trace), "--size", "2"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            _check(proc.returncode == 0,
                   f"{workload} trace={trace} exit {proc.returncode}: "
                   f"{proc.stderr[-2000:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _check(got == want[trace],
                   f"{workload} trace={trace} metrics differ from BENCHMARK.json: "
                   f"{sorted(set(got) ^ set(want[trace]))}")
            _check(res["correct"] and res["attempted"] > 0 and res["failed"] == 0,
                   f"{workload} trace={trace} gate: {res}")
            print(f"ok  smoke {workload} trace={trace}")


def main() -> int:
    cache = os.path.join(ROOT, ".perfbench", "corpora")
    os.makedirs(cache, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    try:
        check_slice_kinds(cache)
        check_slices_match_write_corpus(cache, tmp)
        check_gate(cache, tmp)
        check_pdf_defect()
        if "--smoke" in sys.argv[1:]:
            check_smoke()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
