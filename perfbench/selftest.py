"""Self-test of the benchmark.

    python3 perfbench/selftest.py            # feed generator checks (seconds)
    python3 perfbench/selftest.py --smoke    # plus a tiny run of each workload

The generator checks confirm that a seed always yields the same feed and
that the feed holds exactly the planned new identities, re-seen rows,
near-copies and rejects. The smoke runs call ``run.py --tiny`` for every
workload, untraced and traced, and require a correct result.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import feed

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm_key(key) -> tuple:
    """The identity as the normalizer hashes it: trimmed, inner runs of
    white space collapsed, lower case."""
    return tuple(" ".join(part.split()).lower() for part in key)


def check_feed(seed: int, spec: feed.FeedSpec) -> None:
    a, b = feed.generate(spec, seed), feed.generate(spec, seed)
    assert [x.records for x in a] == [x.records for x in b], "same seed, different feed"
    other = feed.generate(spec, seed + 1)
    assert [x.records for x in a] != [x.records for x in other], "seed is ignored"

    seen: set = set()
    companies: set = set()
    descriptions: list[str] = []
    for batch in a:
        incremental = batch.index > 0
        size = spec.batch if incremental else spec.initial
        assert len(batch.records) == size
        assert batch.rejects == max(1, round(size * feed.REJECT))
        assert len(batch.reseen_keys) == (round(size * feed.RESEEN) if incremental else 0)
        assert len(batch.near_copy_keys) == (round(size * feed.NEAR_COPY) if incremental else 0)
        assert len(batch.new_keys) + len(batch.reseen_keys) + batch.rejects == size

        new = {_norm_key(k) for k in batch.new_keys}
        assert len(new) == len(batch.new_keys), "new identities collide"
        assert not new & seen, "a new identity was seen before"
        reseen = {_norm_key(k) for k in batch.reseen_keys}
        assert len(reseen) == len(batch.reseen_keys) and reseen <= seen
        seen |= new

        payloads = [r["payload"] for r in batch.records]
        blank = [
            p for p in payloads
            if not all(str(p[f]).strip() for f in ("title", "company", "location"))
        ]
        assert len(blank) == batch.rejects, "rejects are not exactly the blank rows"
        by_key = {
            (p["company"], p["title"], p["location"]): p for p in payloads if p not in blank
        }
        for key in batch.reseen_keys:
            assert by_key[key] is batch.latest[key]
        descriptions.extend(by_key[k]["description"] for k in batch.new_keys)
        for key in batch.near_copy_keys:
            mine = by_key[key]["description"]
            words = mine.split(" ")
            assert any(
                d != mine
                and len(d.split(" ")) == len(words)
                and sum(x != y for x, y in zip(d.split(" "), words)) <= 2
                for d in descriptions
            ), f"{key} is not a near-copy of another description"
        for name in batch.new_companies:
            assert any(k[0] == name for k in batch.new_keys), "a new company never lands"
        companies |= {k[0] for k in batch.new_keys}
        assert batch.identities_seen == len(seen) == len(batch.latest)
        assert batch.companies_seen == len(companies)
        assert len({r["raw_id"] for r in batch.records}) == size


def smoke() -> None:
    root = os.path.dirname(HERE)
    for workload in ("query_mix", "etl_incremental"):
        for trace in ("0", "1"):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                "--seed", "1", "--seconds", "1", "--trace", trace, "--tiny",
            ]
            out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=300)
            assert out.returncode == 0, out.stderr[-2000:]
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0, out.stdout[-2000:]
            print(f"smoke {workload} trace={trace}: ok, {res['attempted']} ops", flush=True)


def main() -> int:
    import etl

    for seed in (0, 1, 7, 12345):
        check_feed(seed, etl.FULL)
        check_feed(seed, etl.TINY)
    print("feed generator: ok")
    if "--smoke" in sys.argv[1:]:
        smoke()
    return 0


if __name__ == "__main__":
    sys.exit(main())
