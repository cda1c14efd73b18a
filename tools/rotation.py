"""Regenerate the queries() registry ordering from CORRECTNESS_r*.json.

The external driver gates only the FIRST 50 ``queries()`` dict entries per
round, so the literal's ordering is load-bearing. Policy (per the r12/r13
verdicts, machine-generated so the bookkeeping can't drift):

1. never-gated queries lead (no green row in ANY CORRECTNESS_r*.json),
   alphabetical;
2. then queries named in FORCE (materially changed this round — their
   fixture/oracle moved, so the old attestation no longer covers them),
   alphabetical;
3. then everything else by (last-green round ascending, name) — the stalest
   attestations rotate in first, and the next rotation is again a prefix.

Usage:
    python tools/rotation.py           # report the proposed window
    python tools/rotation.py --write   # rewrite the dict literal in place
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(ROOT, "__spark_entry__.py")
WINDOW = 50

# gates whose fixture/oracle changed this round: a prior green no longer
# attests the current behavior, so they re-enter the window like new rows.
# r16: the three r15 socket clients changed materially (16MB packet
# continuation, per-slot seq, newline-keepalive tolerance, OSError->
# ValueError confinement on read AND send paths), so their r15 greens
# attest superseded client code; oplog_file_parse's fixture builder was
# refactored into the shared _ensure_oplog_fixture (tag moved).
# r18: the optimization round's touched paths — state bucketing
# (stateful_dedup), PPJoin accumulated bound (jaccard family), single-task
# trainer routes (tokenizer/perceptron families), BIGINT shingle-fold seed
# (langid family), LZW bit-reader (gif/tiff decoders)
FORCE = [
    "stateful_dedup",
    "jaccard_pairs",
    "ngram_jaccard",
    "ngram_minhash",
    "bpe_learn",
    "bpe_encode",
    "wordpiece_learn",
    "wordpiece_encode",
    "unigram_learn",
    "unigram_encode",
    "unigram_doc_tokens",
    "perceptron_train",
    "langid_train",
    "langid_apply",
    "lang_id",
    "gif_decode",
    "gif_frames",
    "tiff_decode",
]


def last_green() -> dict[str, int]:
    """query -> highest round with a fully-green driver row."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        data = json.load(open(path))
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            checks = [
                v for k, v in rec.items()
                if k in ("rows_match", "schema_match", "hash_match", "rows_ok", "ok")
                and v is not None
            ]
            green = bool(checks) and all(checks)
            if green:
                out[name] = max(out.get(name, 0), rnd)
    return out


def registry_pairs() -> list[tuple[str, str]]:
    """(key, value-expression) pairs from the current dict literal, plus the
    literal's (start, end) line span."""
    src = open(ENTRY).read().splitlines()
    # locate `def queries(` then its `    return {`
    qi = next(i for i, ln in enumerate(src) if ln.startswith("def queries()"))
    start = next(i for i in range(qi, len(src)) if src[i].strip() == "return {")
    depth = 0
    end = None
    for i in range(start, len(src)):
        depth += src[i].count("{") - src[i].count("}")
        if depth == 0 and i > start:
            end = i
            break
    pairs = []
    for ln in src[start + 1 : end]:
        m = re.match(r'\s*"([a-z0-9_]+)": (q_[a-z0-9_]+),\s*$', ln)
        if m:
            pairs.append((m.group(1), m.group(2)))
    return pairs, (start, end), src


def plan(pairs, greens, force):
    names = [k for k, _ in pairs]
    assert len(names) == len(set(names)), "duplicate registry keys"
    never = sorted(n for n in names if n not in greens and n not in force)
    forced = sorted(n for n in names if n in force)
    rest = sorted(
        (n for n in names if n in greens and n not in force),
        key=lambda n: (greens[n], n),
    )
    order = never + forced + rest
    assert sorted(order) == sorted(names)
    return order, never, forced


def main() -> None:
    greens = last_green()
    pairs, (start, end), src = registry_pairs()
    by_key = dict(pairs)
    order, never, forced = plan(pairs, greens, FORCE)
    window = order[:WINDOW]
    tail_round = greens.get(window[-1], 0)
    print(f"registry: {len(pairs)} queries; never-gated: {len(never)}: {never}")
    print(f"forced (changed this round): {forced}")
    print(f"window tail staleness: r{tail_round:02d}")
    counts: dict[int, int] = {}
    for n in window:
        counts[greens.get(n, 0)] = counts.get(greens.get(n, 0), 0) + 1
    print("window by last-green round:", dict(sorted(counts.items())))
    print("--- 50-slot window ---")
    for i, n in enumerate(window):
        print(f"{i + 1:3d}. {n:32s} r{greens.get(n, 0):02d}")

    if "--write" not in sys.argv:
        return
    never_n, forced_n = len(never), len(forced)
    header = [
        "        # -- window (machine-generated by tools/rotation.py; policy:",
        f"        # -- {never_n} never-gated rows lead, then {forced_n} force-rotated"
        " (fixture/oracle",
        "        # -- changed this round), then stalest-first by last-green round;",
        f"        # -- window tail sits at r{tail_round:02d}). Run the FULL tools/check.py",
        "        # -- before freezing; rotated-out rows keep local-gate + pytest",
        "        # -- coverage. -------------------------------------------------",
    ]
    body = header + [f'        "{n}": {by_key[n]},' for n in order]
    new_src = src[: start + 1] + body + src[end:]
    with open(ENTRY, "w") as f:
        f.write("\n".join(new_src) + "\n")
    print(f"rewrote {ENTRY} dict literal ({len(order)} entries)")


if __name__ == "__main__":
    main()
