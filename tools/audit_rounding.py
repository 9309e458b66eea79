"""ROUND(double, s) risk-class audit — the grep-able whitelist.

Round 8/9 proved that ``ROUND(double, s)`` is engine-dependent when the
rounded value lands on an exact decimal half-tie: Spark rounds the
BigDecimal of the double's shortest repr HALF_UP, DuckDB rounds the
scaled double — they disagree on ties (BASELINE.md round 9). The
structural replacements are ``ratio_dec/ratio_dbl`` (integer count
ratios — the measured flip class) and ``pin_dec/pin_dbl``
(floor(x*10^s + 0.5): identical IEEE ops both engines), in
functions/scalars.py.

This script inventories every remaining ROUND site in the engine and
classifies it into an annotated tie-risk category; a site no rule or
override covers FAILS the audit, so a new un-reviewed ROUND cannot
ship (tests/test_rounding_audit.py runs this in CI). Output:
ROUNDING.md — one row per (file, enclosing function, ROUND
expression) key with its site count and category; keyed without line
numbers, so an edit elsewhere in a file leaves its rows alone. It is
rewritten by ``--write``; ``--check`` compares it in memory, writes
nothing, and fails when it is stale.

Categories (reasons in CATEGORY_REASONS):

* transcendental — the rounded value comes out of libm (LN/EXP/
  cosine/logit/entropy…). Such doubles carry full 17-significant-
  digit mantissas; a 6-dp half-tie requires the SHORTEST repr to
  terminate with <= 7 significant digits ending in 5, which is not
  reachable from continuous-valued inputs short of a contrived
  fixture. Survived every differential sweep r1-r11 at 3 SFs.
* moment — AVG/variance/covariance/regression moments over data
  doubles: same density argument as transcendental (the quotient's
  repr almost never terminates), EXCEPT money-grid averages with
  power-of-two-ish divisors, which can terminate — those named sites
  are annotated individually in OVERRIDES (ma4: divisor <= 4 keeps
  the true value on a <= 6-dp grid, so both engines round exactly)
  or were migrated to pins (comp_exp_gap_fit, surv_km_curve, a24).
* internal-pin — ROUND used INSIDE a pipeline to pin an intermediate
  that both engines compute bit-identically (codebook means, PQ/SQ
  LUT entries, scale-12 cosine pins feeding exact-decimal sums): the
  two engines hand ROUND the same bits, and downstream consumers are
  bit-equality-gated (tests/test_ann_recall.py) — a tie flips both
  engines together or neither.
* half-to-int — ROUND(x * 1e9, 0)-style integer pins: the value is
  immediately cast to BIGINT and summed exactly; both engines compute
  the same double input, and the half-case lands identically because
  the formula is shared (same class as internal-pin).
* presentation — ROUND on an already-engine-identical value solely to
  shorten the printed column, where the upstream is exact decimal or
  integer arithmetic (no double divergence to amplify).

The remaining *risk acceptance* is explicit: transcendental/moment
sites are tie-UNLIKELY (measure-zero repr class + 11 rounds of sweep
evidence), not tie-IMPOSSIBLE. New ratio-of-integer-count ROUNDs are
BANNED outright (category ratio-int fails the audit — use ratio_dbl).
"""

from __future__ import annotations

import ast
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "appeals_data_spark")

SITE_RE = re.compile(r"F\.round\(|(?<![_A-Za-z])ROUND\s*\(")

CATEGORY_REASONS = {
    "transcendental": (
        "libm output (full-mantissa double): a 6-dp half-tie needs a "
        "<=7-sig-digit shortest repr ending in 5 — unreachable from "
        "continuous inputs; swept clean r1-r11"
    ),
    "moment": (
        "data-double moment (AVG/regr/corr/var): quotient repr almost "
        "never terminates; terminating-grid exceptions are migrated "
        "or individually annotated"
    ),
    "internal-pin": (
        "pins an intermediate both engines compute bit-identically; "
        "downstream bit-equality-gated — a tie flips both or neither"
    ),
    "half-to-int": (
        "ROUND(x*10^k, 0) -> integer accumulation: shared formula, "
        "same double input both engines, exact integer sum after"
    ),
    "presentation": (
        "upstream is exact decimal/integer arithmetic — no double "
        "divergence for the rounding to amplify"
    ),
    "ratio-int": (
        "RATIO OF INTEGER COUNTS — the measured r8/r9 flip class; "
        "MUST be migrated to ratio_dbl/sql_ratio_dbl"
    ),
    "model-output": (
        "iterative-fit output (EM/IRLS/MM/Holt/PageRank/Pegasos "
        "weights, shrinkage posteriors): products of ratios and "
        "exponentials accumulated over many rounds — full-mantissa "
        "doubles, same density argument as transcendental"
    ),
    "ratio-legacy": (
        "RETIRED round 12 — every legacy count-ratio ROUND (the "
        "measured r8/r9 flip class) was migrated to ratio_dbl/pin_dbl "
        "with matched oracle twins; the enumerating rule now BANS the "
        "shape outright (ratio-int), so a reappearing site fails CI "
        "instead of re-entering the whitelist."
    ),
    "grid-exact": (
        "value provably on a <= 6-dp decimal grid (money medians, "
        "ROUND(x,-3) of 2-dp money, RRF 1e6/(60+rank) with small "
        "denominators, ma4 divisors <= 4): both engines round "
        "exactly — no tie reachable"
    ),
}

# Prose mentions of ROUND inside docstrings/design comments — not code
# sites. (file suffix, content regex).
PROSE: list[tuple[str, str]] = [
    ("operators/similarity.py", r"argmin replays the \(ROUND"),
    ("operators/similarity.py", r"ROUND\(l2sq, dp\), \(d, code\)"),
    ("operators/similarity.py", r"least ROUND\(l2sq, round_dp\)"),
    ("operators/similarity.py", r"Spark ROUND\(double, dp\): BigDecimal"),
    ("queries/textops_q.py", r'ROUND\(double\)\."""'),
]

# Rules applied to the matched line (first hit wins).
RULES: list[tuple[str, str]] = [
    # explicit integer pins (SVM/BT 1e6- and SQ8 1e9-scaled folds)
    (r"\*\s*F\.lit\(1\.0e9\),\s*0\)|\* 1e9, 0\)|\(1e9\b", "half-to-int"),
    (r"\*\s*1000000,\s*0\)|\* 1e6, 0\)", "half-to-int"),
    # provably on-grid values
    (
        r"quantile_cont|exact_p50|,\s*-3\)|1000000\.0\s*/\s*\(60"
        r"|/ \(60 \+|ma4",
        "grid-exact",
    ),
    # codebook / LUT / quantizer pins (similarity + their oracle twins)
    (r"AVG\(x\)|F\.avg\(F\.col\(\"x\"\)", "internal-pin"),
    (r"l2sq|list_sum\(list_transform|255\.0|/ 255", "internal-pin"),
    (r"12\)|12,|decimal\(38,\s*12\)|DECIMAL\(38,\s*12\)", "internal-pin"),
    # libm families (incl. aggregates of libm-valued columns: scores,
    # cosines, log-probs, entropies)
    (
        r"LN\(|EXP\(|F\.log\(|F\.exp\(|LOG\(|log10|LOG10|SQRT|F\.sqrt"
        r"|cosine|cos_|c_cos|list_cosine|logprob|entropy|logit|zipf"
        r"|POW\(|F\.pow|score|idf|contrib",
        "transcendental",
    ),
    # iterative-fit / closed-form model outputs
    (
        r"slope|intercept|\br2\b|shape|\bbeta\b|\bmu\b|tau2|shrunk"
        r"|\bu\b|p_adj|\bb0\b|\bb1\b|\bw0\b|\bw1\b|\bw2\b|level|trend"
        r"|strength|\brank\b|\bp0\b|\bp1\b|coef_treat|baseline_rate"
        r"|treat_rate|raw_rate|\"p\"|\bresid\b|max_abs_resid",
        "model-output",
    ),
    # moments over data doubles
    (
        r"regr_|covar|F\.corr|CORR\(|var_pop|VAR_POP|stddev|STDDEV"
        r"|F\.avg\(|AVG\(|F\.mean\(|sxy|sxx|\bsx\b|\bsy\b",
        "moment",
    ),
    # count-ratio shapes (the retired ratio-legacy enumeration): every
    # site was migrated to ratio_dbl/pin_dbl in round 12; a ROUND
    # matching these patterns again is the banned flip class and
    # fails CI (ratio-int), not a whitelist re-entry.
    (
        r"keep_prob|natural_share|temp_share|upsample_factor"
        r"|raw_control|raw_treated|k0|k1|had_return|n_total|/ ntok"
        r"|CAST\(COUNT\(\*\) AS DOUBLE\)|confusion|<> f THEN|i <> f",
        "ratio-int",
    ),
]

# file-relative-path -> {line-content-regex -> (category, extra-reason)}
# for sites the generic rules misclassify or miss. Keyed on content,
# not line numbers, so edits elsewhere in a file don't invalidate them.
OVERRIDES: dict[str, list[tuple[str, str, str]]] = {
    "queries/windows.py": [
        (
            r"n_ma4|rev_ma4|AVG\(CAST\(n AS DOUBLE\)\) OVER|AVG\(rev\) OVER",
            "moment",
            "ma4: divisor <= 4 (ROWS 3 PRECEDING) keeps the true mean on "
            "a <= 6-dp grid (money = 2-dp, /2^k<=4) — both engines round "
            "exactly, no tie reachable",
        ),
    ],
    "queries/survival_q.py": [
        (
            r"s_prev \* d1 / n_risk|s_prev \* d2 / n_risk",
            "transcendental",
            "cuminc terms: KM survival (exp-of-log-sum) times count "
            "ratio — full-mantissa operand keeps the product off the "
            "tie grid",
        ),
    ],
    "operators/survival.py": [
        (
            r's_prev.*d\{k\}.*n_risk|s_prev"\) \* F\.col',
            "transcendental",
            "cuminc builder twin of the survival_q oracle terms: KM "
            "survival (exp-of-log-sum) factor keeps the product "
            "full-mantissa",
        ),
    ],
}


def _enclosing_functions(source: str) -> list[tuple[int, int, str]]:
    """(first line, last line, dotted name) of every function; a
    function's span starts at its first decorator, so a registered
    query's oracle SQL belongs to that query."""
    spans = []

    def walk(node, prefix):
        for child in ast.iter_child_nodes(node):
            name = prefix
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                name = f"{prefix}.{child.name}" if prefix else child.name
                start = min(
                    [child.lineno] + [d.lineno for d in child.decorator_list]
                )
                if not isinstance(child, ast.ClassDef):
                    spans.append((start, child.end_lineno, name))
            walk(child, name)

    walk(ast.parse(source), "")
    return spans


def _enclosing(spans, line: int) -> str:
    inside = [s for s in spans if s[0] <= line <= s[1]]
    return max(inside)[2] if inside else "<module>"


def _expression(lines: list[str], i0: int) -> str:
    """The ROUND call starting on line ``i0``, through its balanced
    closing parenthesis, whitespace-collapsed."""
    text = "\n".join(lines[i0 : i0 + 12])
    start = SITE_RE.search(lines[i0]).start()
    depth = 0
    for j in range(start, len(text)):
        if text[j] == "(":
            depth += 1
        elif text[j] == ")":
            depth -= 1
            if depth == 0:
                return " ".join(text[start : j + 1].split())
    return " ".join(text[start:].split())


def collect_sites():
    """Every ROUND site as (file, line, enclosing function, expression,
    classification context)."""
    sites = []
    for dirpath, _dirnames, filenames in os.walk(PKG):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            with open(path) as f:
                source = f.read()
            lines = source.splitlines()
            spans = _enclosing_functions(source)
            for i0, line in enumerate(lines):
                i = i0 + 1
                stripped = line.strip()
                if stripped.startswith("#") or stripped.startswith("--"):
                    continue
                if SITE_RE.search(line):
                    # doc mentions inside docstrings are not code sites;
                    # cheap filter: lines that are prose (no call syntax
                    # after the match is hard to detect — keep anything
                    # with an opening paren, drop pure-text mentions)
                    if "ROUND(" not in line and "F.round(" not in line:
                        continue
                    if any(
                        rel.endswith(sfx) and re.search(pat, line)
                        for sfx, pat in PROSE
                    ):
                        continue
                    # multi-line calls: classify on the call line plus
                    # the following three lines (the operand usually
                    # starts on the next line)
                    ctx = " ".join(
                        x.strip() for x in lines[i0 : i0 + 4]
                    )
                    sites.append(
                        (rel, i, _enclosing(spans, i), _expression(lines, i0), ctx)
                    )
    return sites


def classify(rel: str, text: str):
    for pat, cat, reason in OVERRIDES.get(rel, []):
        if re.search(pat, text):
            return cat, reason
    for pat, cat in RULES:
        if re.search(pat, text):
            return cat, CATEGORY_REASONS[cat]
    return None, None


def render(rows) -> str:
    """ROUNDING.md for the classified ``rows`` (file, function,
    expression, category): one table row per distinct key, with the
    number of sites that share it."""
    out = [
        "# ROUND(double, s) whitelist",
        "",
        "Generated by `python tools/audit_rounding.py --write` — do",
        "not edit by hand. Every remaining ROUND site in the engine,",
        "classified by tie-risk category (reasons and the risk",
        "acceptance statement in tools/audit_rounding.py's",
        "docstring). The measured flip class — ratio-of-integer-",
        "count ROUNDs — is banned outright; those sites were",
        "migrated to ratio_dbl/pin_dbl (functions/scalars.py).",
        "",
        "| file | function | expression | sites | category |",
        "|---|---|---|---|---|",
    ]
    for (rel, func, expr, cat), n in sorted(Counter(rows).items()):
        cell = expr.replace("|", "\\|")
        out.append(
            f"| appeals_data_spark/{rel} | {func} | `{cell}` | {n} | {cat} |"
        )
    out.append("")
    out.append("Category reasons:")
    out.append("")
    for cat, reason in CATEGORY_REASONS.items():
        if cat == "ratio-int":
            continue
        out.append(f"- **{cat}** — {reason}")
    out.append("")
    return "\n".join(out)


def main() -> int:
    write = "--write" in sys.argv
    check = "--check" in sys.argv
    sites = collect_sites()
    rows = []
    unclassified = []
    banned = []
    for rel, ln, func, expr, text in sites:
        cat, reason = classify(rel, text)
        if cat is None:
            unclassified.append((rel, ln, text))
        elif cat == "ratio-int":
            banned.append((rel, ln, text))
        else:
            rows.append((rel, func, expr, cat))
    md_path = os.path.join(ROOT, "ROUNDING.md")
    md = render(rows)
    if write:
        with open(md_path, "w") as f:
            f.write(md)

    counts = Counter(row[3] for row in rows)
    print(f"{len(sites)} ROUND sites: {dict(counts)}")
    ok = True
    if check:
        with open(md_path) as f:
            if f.read() != md:
                ok = False
                print(
                    "\nROUNDING.md is stale — run `python "
                    "tools/audit_rounding.py --write` and commit the result"
                )
    if banned:
        ok = False
        print(f"\nBANNED ratio-of-integer-count ROUND sites ({len(banned)}):")
        for rel, ln, text in banned:
            print(f"  appeals_data_spark/{rel}:{ln}  {text[:90]}")
    if unclassified:
        ok = False
        print(f"\nUNCLASSIFIED sites ({len(unclassified)}) — add an override:")
        for rel, ln, text in unclassified:
            print(f"  appeals_data_spark/{rel}:{ln}  {text[:90]}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
