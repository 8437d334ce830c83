"""previous_round_bench resolution-order tests.

The r13 verdict's #1 finding: the driver has recorded ``parsed: null``
since r11 (its stdout tail keeps only the last 2000 chars and the
bench line was ~3.5 KB), so the naive "latest parseable BENCH_r*.json"
logic silently compared every round against BENCH_r10 — commit
messages claimed vs-r12 deltas that were actually vs-r10.  These tests
pin the corrected chain: builder ``docs/bench/r{N}_final_run*.json``
first (per-query min), then the driver's parsed record, then timings
regex-recovered from the driver record's truncated ``tail``.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, "/root/repo")

from bench import (  # noqa: E402
    _recover_from_tail,
    current_round_bench,
    detect_current_round,
    previous_round_bench,
)


def _write(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f)


def _builder(tmp, rnd, run, queries, sf=0.1):
    _write(os.path.join(tmp, "docs", "bench",
                        f"r{rnd}_final_run{run}.json"),
           {"metric": "headline_suite_wall_clock", "sf": sf,
            "queries": queries})


def _driver_parsed(tmp, rnd, queries, sf=0.1):
    _write(os.path.join(tmp, f"BENCH_r{rnd}.json"),
           {"n": rnd, "rc": 0, "sf": sf,
            "parsed": {"sf": sf, "queries": queries}})


def test_builder_records_preferred_and_min_merged(tmp_path):
    tmp = str(tmp_path)
    _builder(tmp, 7, 1, {"q1": 2.0, "q2": 5.0})
    _builder(tmp, 7, 2, {"q1": 3.0, "q2": 4.0})
    _driver_parsed(tmp, 7, {"q1": 99.0, "q2": 99.0})
    prev = previous_round_bench(tmp, 0.1)
    assert prev["queries"] == {"q1": 2.0, "q2": 4.0}
    assert prev["base"] == "r7:min(2runs)"
    assert "r7_final_run1.json" in prev["base_files"]


def test_newest_round_wins_across_sources(tmp_path):
    tmp = str(tmp_path)
    _builder(tmp, 5, 1, {"q1": 1.0})
    _driver_parsed(tmp, 6, {"q1": 7.0})
    prev = previous_round_bench(tmp, 0.1)
    assert prev["queries"] == {"q1": 7.0}
    assert prev["base"] == "r6:driver"


def test_parsed_null_falls_back_to_tail_recovery(tmp_path):
    tmp = str(tmp_path)
    # truncated mid-queries: the head of the line (and the opening
    # '"queries": {') is gone, and the first surviving fragment is a
    # beheaded pair ('minhash_lsh": 1.31' from "dedup_minhash_lsh") —
    # its opening quote is gone so it cannot regex-match
    tail = ('minhash_lsh": 1.31, "text_stats": 0.209, "cosine": 0.589, '
            '"pages": 0.541, "json_props": 0.432, "sliding": 0.611, '
            '"sessions": 0.636}, "sf": 0.1, "note": "x", '
            '"deltas": {"text_stats": 0.9, "cosine": 0.8, "pages": 0.7, '
            '"json_props": 0.9, "sliding": 0.9, "sessions": 0.9}, '
            '"regressions": []}\n')
    _write(os.path.join(tmp, "BENCH_r9.json"),
           {"n": 9, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None})
    prev = previous_round_bench(tmp, 0.1)
    assert prev["base"] == "r9:tail"
    assert "minhash_lsh" not in prev["queries"]  # beheaded fragment
    assert prev["queries"]["text_stats"] == 0.209
    # deltas pairs (after the '}, "sf":' fence) never leak in
    assert prev["queries"]["sessions"] == 0.636
    assert len(prev["queries"]) == 6


def test_tail_recovery_keeps_all_pairs_when_anchored(tmp_path):
    tmp = str(tmp_path)
    tail = ('{"metric": "m", "value": 3.0, "unit": "sec", '
            '"queries": {"q1": 1.0, "q2": 2.0, "q3": 3.0, "q4": 4.0, '
            '"q5": 5.0}, "sf": 0.1}\n')
    _write(os.path.join(tmp, "BENCH_r4.json"),
           {"n": 4, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None})
    prev = previous_round_bench(tmp, 0.1)
    assert prev["queries"] == {"q1": 1.0, "q2": 2.0, "q3": 3.0,
                               "q4": 4.0, "q5": 5.0}


def test_sf_mismatch_skips_to_older_round(tmp_path):
    tmp = str(tmp_path)
    _builder(tmp, 8, 1, {"q1": 2.5}, sf=0.01)
    _driver_parsed(tmp, 8, {"q1": 9.0}, sf=0.01)
    _driver_parsed(tmp, 7, {"q1": 3.0}, sf=0.1)
    prev = previous_round_bench(tmp, 0.1)
    assert prev["queries"] == {"q1": 3.0}
    assert prev["base"] == "r7:driver"


def test_too_few_recovered_pairs_rejected(tmp_path):
    tmp = str(tmp_path)
    tail = 'ed": 1.31, "q2": 0.2}, "sf": 0.1, "regressions": []}\n'
    _write(os.path.join(tmp, "BENCH_r3.json"),
           {"n": 3, "rc": 0, "sf": 0.1, "tail": tail, "parsed": None})
    assert previous_round_bench(tmp, 0.1) is None


def test_real_r13_driver_record_recovers(tmp_path):
    """The actual shipped BENCH_r13.json (parsed: null) must recover
    enough timings to anchor r14's deltas; spot-check a value against
    the committed builder record."""
    import shutil

    with open("/root/repo/BENCH_r13.json") as f:
        rec = json.load(f)
    assert rec["parsed"] is None  # the condition this fix exists for
    got = _recover_from_tail(rec, 0.1)
    assert got is not None
    assert got["queries"]["pagerank_docs"] == 2.483
    assert "minhash_lsh" not in got["queries"]
    # ... but the full chain prefers the complete builder records of
    # the newest round over that round's truncated driver record (and
    # over any older round).  Built under tmp_path, so the check does
    # not depend on which bench records happen to be committed.
    tmp = str(tmp_path)
    shutil.copy(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_r13.json"), tmp)
    _driver_parsed(tmp, 12, {"pagerank_docs": 9.0})
    _builder(tmp, 13, 1, {"pagerank_docs": 2.6, "q2": 1.0})
    _builder(tmp, 13, 2, {"pagerank_docs": 2.5, "q2": 1.2})
    prev = previous_round_bench(tmp, 0.1)
    assert prev["base"] == "r13:min(2runs)"
    assert prev["queries"] == {"pagerank_docs": 2.5, "q2": 1.0}


# ---------------------------------------------------------------------------
# r14 verdict #1: the round-over-round / host-drift split
# ---------------------------------------------------------------------------

def test_before_round_skips_current_rounds_own_runs(tmp_path):
    """With before_round set, the current round's own builder runs —
    on disk at driver time — must NOT become the "previous round":
    the base resolves to the newest round STRICTLY BEFORE it."""
    tmp = str(tmp_path)
    _builder(tmp, 14, 1, {"q1": 2.0})
    _builder(tmp, 15, 1, {"q1": 1.0})   # current round, already committed
    prev = previous_round_bench(tmp, 0.1, before_round=15)
    assert prev["base"] == "r14:min(1runs)"
    assert prev["queries"] == {"q1": 2.0}
    # unbounded call still returns the newest (the host-drift base)
    assert previous_round_bench(tmp, 0.1)["base"] == "r15:min(1runs)"


def test_detect_current_round_from_correctness_files(tmp_path,
                                                     monkeypatch):
    """During round N the newest CORRECTNESS file is r(N-1) — those
    land when a round finishes — so current = max + 1; the env var
    overrides; neither present -> None."""
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    tmp = str(tmp_path)
    assert detect_current_round(tmp) is None
    _write(os.path.join(tmp, "CORRECTNESS_r03.json"), {})
    _write(os.path.join(tmp, "CORRECTNESS_r14.json"), {})
    assert detect_current_round(tmp) == 15
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "9")
    assert detect_current_round(tmp) == 9


def test_current_round_bench_is_builder_only(tmp_path):
    """The host-drift base is the current round's own builder min —
    and never falls back to a driver record (same-round driver
    records don't exist at run time; a stray one must not leak in)."""
    tmp = str(tmp_path)
    _driver_parsed(tmp, 15, {"q1": 9.0})
    assert current_round_bench(tmp, 0.1, 15) is None   # no builder runs
    _builder(tmp, 15, 1, {"q1": 3.0})
    _builder(tmp, 15, 2, {"q1": 2.5})
    host = current_round_bench(tmp, 0.1, 15)
    assert host["queries"] == {"q1": 2.5}
    assert host["base"] == "r15:min(2runs)"
    assert current_round_bench(tmp, 0.1, 16) is None


# ---------------------------------------------------------------------------
# r15 verdict #1: same-SHA bases are host drift, never REGRESSION
# ---------------------------------------------------------------------------

from bench import _git_head_sha, delta_sections  # noqa: E402

SHA_A = "a" * 40
SHA_B = "b" * 40


def _builder_sha(tmp, rnd, run, queries, sha, sf=0.1):
    _write(os.path.join(tmp, "docs", "bench",
                        f"r{rnd}_final_run{run}.json"),
           {"metric": "headline_suite_wall_clock", "sf": sf,
            "queries": queries, "git_sha": sha})


def test_driver_context_same_sha_base_reroutes_to_host_drift(
        tmp_path, capsys, monkeypatch):
    """The exact driver scenario from the r15 verdict: the driver
    benches AFTER CORRECTNESS_r16 lands (so the run self-identifies
    as round 17), round 16's own builder runs resolve as the
    "previous round", and their code IS the benched tree — the record
    must say HOST-DRIFT, never BENCH REGRESSION."""
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    tmp = str(tmp_path)
    _write(os.path.join(tmp, "CORRECTNESS_r16.json"), {})
    cur = detect_current_round(tmp)
    assert cur == 17  # the post-round self-identification
    _builder_sha(tmp, 16, 1, {"q1": 2.0, "q2": 1.0}, SHA_A)
    full, out = delta_sections(tmp, 0.1, cur,
                               {"q1": 4.2, "q2": 1.05},
                               canary=1.3, head_sha=SHA_A)
    err = capsys.readouterr().err
    assert "BENCH REGRESSION" not in err
    # 4.2/2.0 = 2.1x > threshold max(2.0, 1.5*1.3) = 2.0 -> shout,
    # under its honest name
    assert "BENCH HOST-DRIFT: q1" in err
    assert "q2" not in err  # 1.05x is under every threshold
    assert "deltas" not in full and "regressions" not in full
    assert full["host_drift"] == {"q1": 2.1, "q2": 1.05}
    assert full["host_base"] == "r16:min(1runs):same-sha"
    assert "same code" in full["delta_skipped"]
    assert out["host_base"] == "r16:min(1runs):same-sha"
    assert "delta_base" not in out


def test_different_sha_base_keeps_the_regression_label(
        tmp_path, capsys):
    tmp = str(tmp_path)
    _builder_sha(tmp, 15, 1, {"q1": 2.0}, SHA_B)
    full, out = delta_sections(tmp, 0.1, 16, {"q1": 4.2},
                               canary=1.0, head_sha=SHA_A)
    assert "BENCH REGRESSION: q1" in capsys.readouterr().err
    assert full["regressions"] == ["q1"]
    assert full["deltas"] == {"q1": 2.1}
    assert "host_drift" not in full


def test_unstamped_base_cannot_be_proven_same_code(tmp_path, capsys):
    """Pre-r16 final-run records carry no git_sha: the reroute must
    stay conservative and keep the round-over-round label."""
    tmp = str(tmp_path)
    _builder(tmp, 15, 1, {"q1": 2.0})
    full, _ = delta_sections(tmp, 0.1, 16, {"q1": 4.2},
                             canary=1.0, head_sha=SHA_A)
    assert "BENCH REGRESSION: q1" in capsys.readouterr().err
    assert full["deltas"] == {"q1": 2.1}


def test_mixed_stamped_and_unstamped_base_is_not_same_code(
        tmp_path, capsys):
    """EVERY record of the base must carry HEAD's SHA — one unstamped
    run in the min-merge and the base may include foreign code."""
    tmp = str(tmp_path)
    _builder_sha(tmp, 16, 1, {"q1": 2.0}, SHA_A)
    _builder(tmp, 16, 2, {"q1": 2.5})
    full, _ = delta_sections(tmp, 0.1, 17, {"q1": 4.2},
                             canary=1.0, head_sha=SHA_A)
    assert "BENCH REGRESSION: q1" in capsys.readouterr().err
    assert "host_drift" not in full


def test_builder_context_unchanged_by_sha_stamping(tmp_path, capsys):
    """Mid-round builder run: current round's own runs are the host
    base (round arithmetic), the prior round (different SHA) keeps
    the regression label — both sections present, no crosstalk."""
    tmp = str(tmp_path)
    _builder_sha(tmp, 15, 1, {"q1": 2.0}, SHA_B)   # previous round
    _builder_sha(tmp, 16, 1, {"q1": 2.2}, SHA_A)   # current round
    full, out = delta_sections(tmp, 0.1, 16, {"q1": 2.3},
                               canary=1.0, head_sha=SHA_A)
    err = capsys.readouterr().err
    assert "BENCH REGRESSION" not in err  # 2.3/2.0 = 1.15x, fine
    assert full["deltas"] == {"q1": 1.15}
    assert full["delta_base"] == "r15:min(1runs)"
    assert full["host_base"] == "r16:min(1runs)"
    assert round(full["host_drift"]["q1"], 3) == 1.045


def test_same_sha_prev_yields_to_current_round_host_base(tmp_path):
    """When both qualify (current-round runs exist AND the resolved
    prev is same-SHA), the current round's own min is the host base
    and the round-over-round section is still skipped."""
    tmp = str(tmp_path)
    _builder_sha(tmp, 16, 1, {"q1": 2.0}, SHA_A)
    _builder_sha(tmp, 17, 1, {"q1": 2.2}, SHA_A)
    full, _ = delta_sections(tmp, 0.1, 17, {"q1": 2.3},
                             canary=1.0, head_sha=SHA_A)
    assert "deltas" not in full
    assert full["host_base"] == "r17:min(1runs)"


def test_git_head_sha_of_this_repo():
    sha = _git_head_sha("/root/repo")
    assert sha is not None
    assert re.fullmatch(r"[0-9a-f]{40}", sha)
    assert _git_head_sha("/tmp") is None  # not a repo -> None, no raise



# ---------------------------------------------------------------------------
# code_sha: doc-only commits must not break same-code detection
# ---------------------------------------------------------------------------

from bench import _code_sha, _same_code  # noqa: E402

CODE_X = "c" * 40
CODE_Y = "d" * 40


def _builder_code(tmp, rnd, run, queries, git, code, sf=0.1):
    _write(os.path.join(tmp, "docs", "bench",
                        f"r{rnd}_final_run{run}.json"),
           {"metric": "headline_suite_wall_clock", "sf": sf,
            "queries": queries, "git_sha": git, "code_sha": code})


def test_docs_only_commit_still_detected_as_same_code(
        tmp_path, capsys):
    """The round's final-run records are committed AFTER the benched
    commit, so the driver's HEAD commit differs while the code
    objects are identical — the code SHA must carry the reroute."""
    tmp = str(tmp_path)
    _builder_code(tmp, 16, 1, {"q1": 2.0}, git=SHA_A, code=CODE_X)
    full, _ = delta_sections(tmp, 0.1, 17, {"q1": 4.3},
                             canary=1.0, head_sha=SHA_B,
                             code_sha=CODE_X)   # new commit, same code
    err = capsys.readouterr().err
    assert "BENCH REGRESSION" not in err
    assert "BENCH HOST-DRIFT: q1" in err        # 2.15x > 2.0
    assert full["host_base"] == "r16:min(1runs):same-sha"


def test_code_change_beats_commit_sha_equality(tmp_path, capsys):
    """Conversely: if the code objects differ, the comparison is a
    true round-over-round regression even under any commit-SHA
    coincidence."""
    tmp = str(tmp_path)
    _builder_code(tmp, 15, 1, {"q1": 2.0}, git=SHA_A, code=CODE_X)
    full, _ = delta_sections(tmp, 0.1, 16, {"q1": 4.3},
                             canary=1.0, head_sha=SHA_A,
                             code_sha=CODE_Y)
    assert "BENCH REGRESSION: q1" in capsys.readouterr().err
    assert full["regressions"] == ["q1"]


def test_same_code_fallback_to_commit_sha():
    """Records stamped before the code SHA existed (git_sha only)
    still match on commit identity; unstamped records never do."""
    assert _same_code((SHA_A, None), SHA_A, CODE_X)
    assert not _same_code((SHA_A, None), SHA_B, CODE_X)
    assert _same_code((SHA_A, CODE_X), SHA_B, CODE_X)
    assert not _same_code((SHA_A, CODE_X), SHA_A, CODE_Y)
    assert not _same_code((None, None), SHA_A, CODE_X)


def test_code_sha_of_this_repo_is_stable_and_real():
    import subprocess
    dirty = subprocess.run(
        ["git", "-C", "/root/repo", "status", "--porcelain", "--",
         "cga_logs_to_kinesis_spark", "bench.py",
         "__spark_entry__.py"],
        capture_output=True, text=True).stdout.strip()
    a = _code_sha("/root/repo")
    if dirty:
        # Mid-iteration (uncommitted engine edits) the stamp must
        # refuse: HEAD's objects are not the code that executes.
        assert a is None
    else:
        assert a is not None and re.fullmatch(r"[0-9a-f]{40}", a)
        assert _code_sha("/root/repo") == a
    assert _code_sha("/tmp") is None


def test_code_sha_none_on_dirty_code_tree(tmp_path):
    """A dirty code path must unstamp the run (a same-code SHA for
    code that did not execute would reroute a true regression into
    the looser host-drift channel); doc-only dirt must NOT unstamp —
    that is the main production case (driver benches after writing
    uncommitted CORRECTNESS_rN.json at the repo root)."""
    import subprocess
    repo = str(tmp_path)

    def git(*args):
        subprocess.run(
            ["git", "-C", repo, "-c", "user.email=t@t",
             "-c", "user.name=t"] + list(args),
            check=True, capture_output=True)

    git("init", "-q")
    os.makedirs(os.path.join(repo, "cga_logs_to_kinesis_spark"))
    for rel in ("bench.py", "__spark_entry__.py",
                "cga_logs_to_kinesis_spark/x.py"):
        _write_text(os.path.join(repo, rel), "x = 1\n")
    git("add", "-A")
    git("commit", "-qm", "init")
    clean = _code_sha(repo)
    assert clean is not None

    _write_text(os.path.join(repo, "README.md"), "docs only\n")
    assert _code_sha(repo) == clean          # untracked doc: stamped

    _write_text(os.path.join(repo, "bench.py"), "x = 2\n")
    assert _code_sha(repo) is None           # dirty code: unstamped

    git("checkout", "--", "bench.py")
    _write_text(
        os.path.join(repo, "cga_logs_to_kinesis_spark/new.py"),
        "y = 1\n")
    assert _code_sha(repo) is None           # untracked code file too

    os.remove(os.path.join(repo, "cga_logs_to_kinesis_spark/new.py"))
    assert _code_sha(repo) == clean


def _write_text(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
