"""Large randomized differential sweep: generate N fresh random graphs
(bnode graph names, unicode, escapes, datatypes/langs, duplicates),
canonize through BOTH the reference (node subprocess) and the Python
core, compare outputs/errors exactly.

Usage: python3 tools/diff_sweep.py [n_cases] [seed]
Prints a one-line JSON summary; exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NODE_RUNNER = """
const c = require('/root/reference/lib/index.js');
let data = '';
process.stdin.on('data', d => data += d);
process.stdin.on('end', async () => {
  const payload = JSON.parse(data);
  const out = [];
  for (const nq of payload.cases) {
    try {
      out.push({ok: await c.canonize(nq, {algorithm: 'RDFC-1.0',
        inputFormat: 'application/n-quads',
        maxWorkFactor: payload.wf})});
    } catch (e) {
      out.push({err: e.message});
    }
  }
  process.stdout.write(JSON.stringify(out));
});
"""


def gen_case(rng):
    n = rng.randint(2, 8)
    lines = set()
    specials = ['"q\\"uote"', '"tab\\tx"', '"nl\\nx"',
                '"caf\\u00e9"', '"astral\\U0001F600"', '"pe\\u00F1a"']
    for _ in range(rng.randint(n, 4 * n)):
        s = f"_:v{rng.randrange(n)}" if rng.random() < 0.8 \
            else f"<http://s/{rng.randrange(3)}>"
        p = f"<http://p/{rng.randrange(4)}>"
        r = rng.random()
        if r < 0.5:
            o = f"_:v{rng.randrange(n)}"
        elif r < 0.62:
            o = rng.choice(specials)
        elif r < 0.75:
            o = f'"L{rng.randrange(3)}"'
        elif r < 0.85:
            o = f'"l{rng.randrange(2)}"@{rng.choice(["en", "de-AT"])}'
        elif r < 0.93:
            o = f'"t{rng.randrange(2)}"^^<http://dt/{rng.randrange(2)}>'
        else:
            o = f"<http://o/{rng.randrange(2)}>"
        g = rng.choice(["", "", " <http://g/0>", " _:v0", " _:v1",
                        f" _:g{rng.randrange(2)}"])
        lines.add(f"{s} {p} {o}{g} .\n")
    # occasional duplicated line to exercise dedup
    out = sorted(lines)
    if rng.random() < 0.3 and out:
        out.append(out[0])
    return "".join(out)


def gen_unicode_case(rng):
    """Unicode-focused batch: lone-surrogate UCHAR escapes and astral
    characters concentrated in LITERALS and GRAPH IRIs (the two
    positions where Node's lossy UTF-8 hashing and UTF-16 code-unit
    sorting can diverge from a naive port)."""
    n = rng.randint(2, 5)
    uni = [chr(0x1D306), chr(0xE000), chr(0xFB01), chr(0x1F600),
           chr(0xFFFD), chr(0xF900), chr(0x10000)]
    esc = ["\\uD800", "\\uDC00", "\\uDBFF", "\\uD83D\\uDE00",
           "\\U0001F600", "\\U0010FFFF"]
    lines = set()
    for _ in range(rng.randint(n, 3 * n)):
        s = f"_:v{rng.randrange(n)}"
        p = f"<http://p/{rng.randrange(3)}>"
        r = rng.random()
        if r < 0.45:
            o = f"_:v{rng.randrange(n)}"
        elif r < 0.7:
            o = '"' + rng.choice(uni) + rng.choice(["", "x"]) + '"'
        else:
            o = '"a' + rng.choice(esc) + '"'
        gr = rng.random()
        if gr < 0.4:
            g = ""
        elif gr < 0.7:
            g = " <http://g/" + rng.choice(uni) + ">"
        else:
            g = " <http://g/x" + rng.choice(esc) + ">"
        lines.add(f"{s} {p} {o}{g} .\n")
    return "".join(sorted(lines))


def gen_dense_case(rng):
    """Denser symmetric graphs: at maxWorkFactor=1 many of these hit
    the deep-iteration budget -- exercises error-path parity (exact
    budget arithmetic + message)."""
    n = rng.randint(3, 6)
    lines = set()
    for a in range(n):
        for b in range(n):
            if rng.random() < 0.8:
                lines.add(f"_:v{a} <http://p/0> _:v{b} .\n")
    return "".join(sorted(lines))


def main():
    from rdf_canonize_spark.rdfc import canonize

    n_cases = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 20260816
    wf = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    mode = sys.argv[4] if len(sys.argv) > 4 else "mixed"
    rng = random.Random(seed)
    if mode == "unicode":
        gen = gen_unicode_case
    else:
        gen = gen_dense_case if wf <= 1 else gen_case
    cases = [gen(rng) for _ in range(n_cases)]

    mismatches = 0
    errors_both = 0
    chunk = 500
    for lo in range(0, n_cases, chunk):
        batch = cases[lo:lo + chunk]
        ref = json.loads(
            subprocess.run(
                ["node", "-e", NODE_RUNNER],
                input=json.dumps({"wf": wf, "cases": batch}).encode(),
                capture_output=True,
                check=True,
            ).stdout
        )
        for i, (nq, r) in enumerate(zip(batch, ref)):
            try:
                got = {"ok": canonize(
                    nq, algorithm="RDFC-1.0",
                    input_format="application/n-quads",
                    max_work_factor=wf)}
            except Exception as e:
                got = {"err": str(e)}
            if got != r:
                mismatches += 1
                if mismatches <= 3:
                    print("MISMATCH case", lo + i, file=sys.stderr)
                    print(nq, file=sys.stderr)
                    print("ref:", json.dumps(r)[:400], file=sys.stderr)
                    print("got:", json.dumps(got)[:400], file=sys.stderr)
            if "err" in r:
                errors_both += 1
    print(json.dumps({
        "cases": n_cases, "seed": seed, "work_factor": wf,
        "mismatches": mismatches,
        "reference_errors": errors_both,
    }))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
