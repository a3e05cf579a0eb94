#!/usr/bin/env python3
"""Pin-census machine gate (round 13, verdict item #3).

The parity gate (Spark vs DuckDB oracle) is blind to a formula error
SHARED by both sides — the builder writes the same wrong algebra twice.
The defense is the Pins*Spec discipline: every statistic-bearing key
gets a first-principles recomputation test that rebuilds the number
from raw sf0.001 rows in plain Scala, never through the query's own
algebra. Rounds 10-12 grew that census by hand (207 -> 240) via
repeated "formula-marker sweeps" of the oracle SQL; this tool makes
the sweep a machine-checked gate so the census cannot drift the way
the SURVEY §2 tables did before survey_check.py existed.

  check mode (default):
      python3 tools/pins_check.py
    1. Splits every src/main/scala/graft/queries/*.scala into per-key
       segments (a key's segment runs from its `Q("<key>"` line to the
       next definition) — each segment holds BOTH the Spark-side
       builder and its oracle SQL. A segment also takes in the body of
       every queries/Fragments.scala member it names (transitively), so
       a formula moved into a shared fragment still flags its keys.
    2. Flags a key when its segment carries a formula marker: a
       transcendental / sqrt / pow call, a closed-form-statistics
       builtin (stddev, corr, skewness, ...), or a z/chi-square
       critical-value literal. These are exactly the markers the r12
       hand sweeps used.
    3. A flagged key PASSES if a recomputation test mentions it — the
       key string appears in a Pins*Spec (or one of the named
       closed-form spec families below) — or if it carries an entry in
       tools/pins_exemptions.json explaining why its marker is
       incidental (e.g. sqrt in a ranking-only distance whose engine
       is pinned under a sibling key).
    4. Exits 1 listing flagged keys with neither pin nor exemption,
       plus STALE exemptions (exempt keys that no longer exist or no
       longer carry a marker) so the exemption file cannot rot.

    Also prints the census: the number of test("...") sites across the
    Pins*Spec files (the number BASELINE.md records at round close).
"""
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_GLOB = os.path.join(ROOT, "src/main/scala/graft/queries/*.scala")
EXEMPTIONS = os.path.join(ROOT, "tools/pins_exemptions.json")
FRAGMENTS = os.path.join(ROOT, "src/main/scala/graft/queries/Fragments.scala")

# Specs that carry first-principles recomputation tests. Pins*Spec is
# the discipline's home; the named extras hold closed-form pins for
# families whose recomputation needs machinery a Pins file would
# duplicate (codec byte-math, eigensolver algebra, planted-recall
# ground truth).
PIN_SPEC_GLOBS = [
    os.path.join(ROOT, "src/test/scala/graft/Pins*Spec.scala"),
]
EXTRA_PIN_SPECS = [
    "MultimodalBmpSpec.scala", "MultimodalAviSpec.scala",
    "MultimodalWavSpec.scala", "MultimodalSpec.scala",
    "WhitenSpec.scala", "AdversarialRecallSpec.scala",
    "BpeSpec.scala", "SketchSpec.scala",
]

# Formula markers, mirroring the r12 hand sweeps. Function-like markers
# require the open paren so `expr(`/`explode(` never match `exp(`.
TRANSCENDENTAL = re.compile(
    r"\b(ln|log|log10|log2|log1p|exp|expm1|pow|power|sqrt|cbrt|"
    r"atan2?|acos|asin|tanh|sinh|cosh|erfc?|lgamma|gamma)\s*\(",
    re.IGNORECASE)
STAT_BUILTINS = re.compile(
    r"\b(stddev(_samp|_pop)?|std|var_samp|var_pop|variance|"
    r"covar_samp|covar_pop|corr|skewness|kurtosis|"
    r"regr_slope|regr_intercept|regr_r2|entropy)\s*\(",
    re.IGNORECASE)
# z / chi-square / t critical values and other magic statistical
# constants that only appear when a closed-form test is being encoded.
CRITICAL_VALUES = re.compile(
    r"(?<![\d.])(1\.96|1\.6449?|1\.645|2\.5758?|2\.576|2\.706|"
    r"3\.8415?|5\.9915?|7\.8147?|0\.6745)(?![\d])")


def fragment_members():
    """name -> source of each top-level member of queries/Fragments.scala
    (its doc comment excluded), the shared oracle-SQL recipes and
    builders keys refer to by name."""
    members, name, body = {}, None, []
    for line in open(FRAGMENTS).readlines():
        m = re.match(r"  (?:private )?(?:val|def) (\w+)", line)
        if m or re.match(r"  (/\*\*|//)", line) or line.startswith("}"):
            if name:
                members[name] = "".join(body)
            name, body = (m.group(1), [line]) if m else (None, [])
        elif name:
            body.append(line)
    return members


def with_fragments(seg, members):
    """`seg` plus the body of every Fragments member it names, followed
    transitively — a formula moved into a shared fragment still flags
    every key that uses it."""
    named, todo = set(), [seg]
    while todo:
        text = todo.pop()
        for name, body in members.items():
            if name not in named and re.search(r"\b" + name + r"\b", text):
                named.add(name)
                todo.append(body)
    return seg + "".join(members[n] for n in sorted(named))


def key_segments():
    """key -> (site, source segment from its Q( line to the next, plus
    the Fragments members it names)."""
    members = fragment_members()
    segs = {}
    for path in sorted(glob.glob(QUERY_GLOB)):
        rel = os.path.relpath(path, ROOT)
        lines = open(path).readlines()
        defs = []  # (lineno0, key)
        for i, line in enumerate(lines):
            if line.lstrip().startswith("//"):
                continue
            m = re.search(r'\bQ\("([a-z0-9_]+)"', line)
            if m:
                defs.append((i, m.group(1)))
        def comment_block_start(idx):
            """Walk back over the contiguous comment/blank block that
            DOCUMENTS the definition at `idx` — it belongs to that key,
            not to the previous one (the adamic_adar doc-comment must
            not flag interval_gaps)."""
            j = idx
            while j > 0 and (lines[j - 1].strip() == "" or
                             lines[j - 1].lstrip().startswith("//")):
                j -= 1
            return j

        for j, (i, k) in enumerate(defs):
            start = comment_block_start(i)
            stop = (comment_block_start(defs[j + 1][0])
                    if j + 1 < len(defs) else len(lines))
            segs[k] = (f"{rel}:{i + 1}",
                       with_fragments("".join(lines[start:stop]), members))
    return segs


def markers_of(seg):
    # Markers only count in CODE and oracle SQL — a doc-comment saying
    # "depth = log2(n)" describes the plan, it doesn't compute anything.
    seg = "\n".join(l for l in seg.split("\n")
                    if not l.lstrip().startswith("//")
                    and not l.lstrip().startswith("--"))
    found = []
    for name, rx in (("transcendental", TRANSCENDENTAL),
                     ("stat-builtin", STAT_BUILTINS),
                     ("critical-value", CRITICAL_VALUES)):
        hits = sorted({m.group(1) for m in rx.finditer(seg)})
        if hits:
            found.append(f"{name}:{','.join(hits[:4])}")
    return found


def pin_sources():
    paths = []
    for g in PIN_SPEC_GLOBS:
        paths.extend(glob.glob(g))
    for name in EXTRA_PIN_SPECS:
        p = os.path.join(ROOT, "src/test/scala/graft", name)
        if os.path.exists(p):
            paths.append(p)
    return {os.path.basename(p): open(p).read() for p in sorted(set(paths))}


def recomputation_test_names():
    """(spec, test-name) pairs for recomputation-convention tests in ANY
    spec file: a test whose name says 'match'/'matches' is the repo's
    naming convention for a first-principles pin (223/225 of the Pins
    census follows it; Wave8Spec holds 15 more for the nonparametric
    A/B family)."""
    out = []
    for p in sorted(glob.glob(os.path.join(
            ROOT, "src/test/scala/graft/*Spec.scala"))):
        for m in re.finditer(r'test\("([^"]+)"', open(p).read()):
            if re.search(r"\bmatch(es)?\b", m.group(1)):
                out.append((os.path.basename(p), m.group(1)))
    return out


def main():
    segs = key_segments()
    pins = pin_sources()
    pin_blob = {name: txt for name, txt in pins.items()}
    exempt = {}
    if os.path.exists(EXEMPTIONS):
        exempt = {k: v for k, v in json.load(open(EXEMPTIONS)).items()
                  if not k.startswith("_")}

    census = sum(len(re.findall(r'\btest\("', txt))
                 for name, txt in pins.items() if name.startswith("Pins"))
    recomp = recomputation_test_names()

    # CODE-only spec text: a key named in a doc comment is not a pin
    # (r13 review finding), and \b-bounded matches stop a longer key
    # ('dedup_embedding_knee') from vouching for its prefix
    # ('dedup_embedding') — '_' is a word char, so \b works here.
    def code_only(txt):
        return "\n".join(
            l for l in txt.split("\n")
            if not l.lstrip().startswith("//")
            and not l.lstrip().startswith("*")
            and not l.lstrip().startswith("/*"))

    pin_code = {n: code_only(t) for n, t in pin_blob.items()}

    def pinned_in(key):
        rx = re.compile(r"\b" + re.escape(key) + r"\b")
        hits = sorted(n for n, txt in pin_code.items() if rx.search(txt))
        hits += sorted(spec for spec, tname in recomp
                       if rx.search(tname) and spec not in hits)
        return hits

    flagged = {}
    for k, (site, seg) in sorted(segs.items()):
        mk = markers_of(seg)
        if mk:
            flagged[k] = (site, mk)

    missing = []
    for k, (site, mk) in flagged.items():
        where = pinned_in(k)
        if not where and k not in exempt:
            missing.append((k, site, mk))

    stale = []
    for k, reason in sorted(exempt.items()):
        if k not in segs:
            stale.append((k, "key no longer in registry"))
        elif k not in flagged:
            stale.append((k, "no longer carries a formula marker"))
        elif pinned_in(k):
            stale.append((k, f"now pinned in {pinned_in(k)[0]} — "
                             "drop the exemption"))

    n_pinned = sum(1 for k in flagged if pinned_in(k))
    n_exempt = sum(1 for k in flagged if not pinned_in(k) and k in exempt)
    print(f"pin census: {census} tests across "
          f"{sum(1 for n in pins if n.startswith('Pins'))} Pins*Spec files")
    print(f"formula-flagged keys: {len(flagged)} / {len(segs)} "
          f"({n_pinned} pinned, {n_exempt} exempt)")

    bad = False
    if missing:
        bad = True
        print(f"\nFAIL: {len(missing)} flagged keys with neither a pin "
              f"test nor an exemption:")
        for k, site, mk in missing:
            print(f"  {k}  ({site})  [{'; '.join(mk)}]")
    if stale:
        bad = True
        print(f"\nFAIL: {len(stale)} stale exemptions:")
        for k, why in stale:
            print(f"  {k}: {why}")
    if bad:
        sys.exit(1)
    print("OK: every formula-flagged key is pinned or exempt; "
          "no stale exemptions")


if __name__ == "__main__":
    main()
