"""Zero-dependency SVG plot of a fixture's operands + expected results.

Parity with the reference's plot tooling
(/root/reference/tests/scripts/plot_test_cases.py), re-expressed without
matplotlib (not available in this container): one SVG with a panel per
feature — subject, clipping, then each annotated op result — rendered as
filled paths with even-odd fill (holes render correctly).

  python scripts/plot_fixture.py issue96 /tmp/issue96.svg
  python scripts/plot_fixture.py issue96 /tmp/issue96.svg --computed

--computed replaces the expected results with freshly-computed kernel
results (visual diffing a failing case: run once with and once without).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_geo_booleanop_spark.kernel import boolean_op, load_fixture
from run_single_fixture import refuse_corpus_write, resolve  # noqa: E402

PANEL = 280
PAD = 14

FILL = {
    "subject": "#4477aa66",
    "clipping": "#ee667766",
    "result": "#22883366",
}
STROKE = {"subject": "#4477aa", "clipping": "#ee6677", "result": "#228833"}


def mp_bbox(mps):
    xs = [x for mp in mps for poly in mp for ring in poly for x, _ in ring]
    ys = [y for mp in mps for poly in mp for ring in poly for _, y in ring]
    if not xs:
        return 0.0, 0.0, 1.0, 1.0
    return min(xs), min(ys), max(xs), max(ys)


def path_d(mp, tx, ty):
    parts = []
    for poly in mp:
        for ring in poly:
            if not ring:
                continue
            pts = [f"{tx(x):.2f},{ty(y):.2f}" for x, y in ring]
            parts.append("M " + " L ".join(pts) + " Z")
    return " ".join(parts)


def panel_svg(x_off, title, layers, bbox):
    xmin, ymin, xmax, ymax = bbox
    w = max(xmax - xmin, 1e-12)
    h = max(ymax - ymin, 1e-12)
    s = (PANEL - 2 * PAD) / max(w, h)

    def tx(x):
        return x_off + PAD + (x - xmin) * s

    def ty(y):  # SVG y grows downward
        return PANEL - PAD - (y - ymin) * s

    out = [
        f'<rect x="{x_off}" y="0" width="{PANEL}" height="{PANEL}" '
        f'fill="white" stroke="#ccc"/>',
        f'<text x="{x_off + 8}" y="16" font-size="12" '
        f'font-family="monospace">{title}</text>',
    ]
    for kind, mp in layers:
        d = path_d(mp, tx, ty)
        if d:
            out.append(
                f'<path d="{d}" fill="{FILL[kind]}" stroke="{STROKE[kind]}" '
                f'stroke-width="1" fill-rule="evenodd"/>'
            )
    return "\n".join(out)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    computed = "--computed" in sys.argv
    if len(args) != 2:
        raise SystemExit(__doc__)
    path = resolve(args[0])
    out_path = os.path.abspath(args[1])
    refuse_corpus_write(out_path)

    subject, clipping, expected = load_fixture(path)
    panels = [
        ("subject", [("subject", subject)]),
        ("clipping", [("clipping", clipping)]),
    ]
    for op, exp, _swap in expected:
        mp = boolean_op(subject, clipping, op) if computed else exp
        label = f"{op}{' (computed)' if computed else ''}"
        panels.append(
            (label, [("subject", subject), ("clipping", clipping), ("result", mp)])
        )

    bbox = mp_bbox([subject, clipping])
    width = PANEL * len(panels)
    body = "\n".join(
        panel_svg(i * PANEL, title, layers, bbox)
        for i, (title, layers) in enumerate(panels)
    )
    svg = (
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{PANEL}" viewBox="0 0 {width} {PANEL}">\n{body}\n</svg>\n'
    )
    with open(out_path, "w") as f:
        f.write(svg)
    print(f"wrote {out_path} ({len(panels)} panels)")


if __name__ == "__main__":
    main()
