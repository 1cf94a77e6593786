#!/usr/bin/env python3
"""Regenerate the cases file for graft.DiffCheck.

Differential oracle for the two reference-exact ports:
  - T8 chunker      <- chunk_text, reference app/utils.py:166-208
  - T5 text export  <- the markdown-strip branch of _extract_content,
                       reference app/transcribe.py:167-189

The reference functions are NOT copied here: they are extracted from the
read-only reference sources at runtime (ast for chunk_text, line-slice for
the strip branch) and exec'd to produce expected outputs for ~800
deterministic generated inputs.

Usage: python3 scripts/diffcheck_gen.py [REF_DIR] [OUT]
Then:  sbt "Test/runMain graft.DiffCheck OUT"

REF_DIR is the reference app dir holding utils.py and transcribe.py; OUT
defaults to /tmp/diffcheck/cases.json. If a reference file is missing or
does not hold the expected function, the script exits 1 with one line
saying so and writes nothing: DiffCheck was not run. OUT is replaced
whole, never left empty or partial.
"""
import argparse, ast, json, os, random, sys, tempfile, textwrap

REF = "/root/reference/app"
OUT = "/tmp/diffcheck/cases.json"


def not_run(why):
    sys.exit(f"diffcheck_gen: {why}; DiffCheck was not run")


def read_ref(ref, name):
    path = os.path.join(ref, name)
    if not os.path.isfile(path):
        not_run(f"reference file {path} not found")
    with open(path, encoding="utf-8") as f:
        return f.read()


def load_chunk_text(ref):
    src = read_ref(ref, "utils.py")
    tree = ast.parse(src)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == "chunk_text":
            code = ast.get_source_segment(src, node)
            ns = {}
            exec(compile(code, "utils.py", "exec"), ns)
            return ns["chunk_text"]
    not_run(f"chunk_text not found in {os.path.join(ref, 'utils.py')}")


def load_strip_md(ref):
    lines = read_ref(ref, "transcribe.py").split("\n")
    # slice the TEXT-branch body: from "lines = []" to 'return "\n".join(lines)'
    start = next((i for i, l in enumerate(lines) if l.strip() == "lines = []"), None)
    end = None if start is None else next(
        (i for i, l in enumerate(lines[start:], start)
         if l.strip() == 'return "\\n".join(lines)'), None)
    if end is None:
        not_run(f"markdown-strip branch not found in {os.path.join(ref, 'transcribe.py')}")
    body = textwrap.dedent("\n".join(lines[start:end + 1]))
    code = "def strip_md(md):\n" + textwrap.indent(body, "    ")
    ns = {}
    exec(compile(code, "transcribe.py", "exec"), ns)
    return ns["strip_md"]


def gen_texts(rng):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "table",
             "query", "spark", "página", "ünïcode", "日本語", "x" * 40, "a"]
    puncts = [". ", ".\n", "! ", "!\n", "? ", "?\n", "\n\n", " ", ", ", "—"]
    texts = []
    for _ in range(400):
        n = rng.randint(0, 120)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(words))
            parts.append(rng.choice(puncts))
        texts.append("".join(parts))
    # adversarial edges
    texts += ["", " ", "." * 600, "a" * 2000, "word " * 300,
              ("longsentence " * 30 + ". ") * 5, "\n\n\n", "x. " * 400]
    return texts


def gen_md(rng):
    frags = ["# Title", "## Sec **bold** tail", "*ital* and __under__ mix",
             "[link](http://x) text", "[unbalanced", "](weird) [a](b)(c)",
             "plain line", "", "   ", "### #deep # hash", "_x_*y*__z__",
             "[][]()", "[a][b](c)", "**", "*", "[t](u) [v](w)",
             "nested [ou[ter](in)](out)", "ünïcode **日本** [語](x)"]
    mds = []
    for _ in range(380):
        n = rng.randint(1, 12)
        mds.append("\n".join(rng.choice(frags) for _ in range(n)))
    mds += ["", "#", "# ", "[", "](", ")", "[a](", "[a](b", "***bold***"]
    return mds


def main():
    ap = argparse.ArgumentParser(description="Write the graft.DiffCheck cases file.")
    ap.add_argument("ref", nargs="?", default=REF,
                    help="reference app dir holding utils.py and transcribe.py")
    ap.add_argument("out", nargs="?", default=OUT, help="cases file to write")
    args = ap.parse_args()
    chunk_text = load_chunk_text(args.ref)
    strip_md = load_strip_md(args.ref)
    rng = random.Random(42)
    cases = []
    for t in gen_texts(rng):
        size = rng.choice([100, 128, 256, 512, 1000])
        # overlap <= size/2 only: past that the REFERENCE never terminates
        # (utils.py:166-208 — boundary backtrack can move `start` backwards;
        # our port deviates deliberately with a forward-progress guard, see
        # graft.chunk.Chunker scaladoc), so such cases have no oracle output.
        ov = rng.choice([0, 10, 50, size // 2])
        cases.append({"kind": "chunk", "text": t, "size": size, "overlap": ov,
                      "expected": chunk_text(t, size, ov)})
    for m in gen_md(rng):
        cases.append({"kind": "strip", "text": m, "expected": strip_md(m)})
    out_dir = os.path.dirname(os.path.abspath(args.out))
    os.makedirs(out_dir, exist_ok=True)
    # all cases are built before the file is touched; the temp file is
    # renamed over OUT only once it is complete
    fd, tmp = tempfile.mkstemp(dir=out_dir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(cases, f, ensure_ascii=False)
        os.chmod(tmp, 0o644)
        os.replace(tmp, args.out)
    except BaseException:
        os.unlink(tmp)
        raise
    print(f"wrote {len(cases)} cases to {args.out}")


if __name__ == "__main__":
    main()
