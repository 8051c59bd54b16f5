#!/usr/bin/env python3
"""Regenerate docs/OPERATORS.md from the registry's family files
(src/main/scala/graft/registry/*Cases.scala): one section per family, in
the order of `SparkEntry.families`, one row per case in the order of the
family's `cases` list, described by the `//` comments above its `Case(`.
Run from the repo root after adding queries."""
import glob, re

REG = 'src/main/scala/graft/registry'


def description(lines, i):
    """The `//` comment block above line i (blank lines allowed), with the
    `---` section markers dropped."""
    j = i
    while j > 0 and (lines[j - 1].strip().startswith('//') or not lines[j - 1].strip()):
        j -= 1
    comment = ' '.join(l.strip().lstrip('/').strip()
                       for l in '\n'.join(lines[j:i]).strip().splitlines())
    return re.sub(r'^-+\s*|\s*-+$', '', comment.replace('---', '').strip()).strip()


families = {}
for path in glob.glob(f'{REG}/*Cases.scala'):
    lines = open(path).read().split('\n')
    obj, title = re.search(r'object (\w+) extends Family\("([^"]*)"\)',
                           '\n'.join(lines)).groups()
    # a case another case borrows its oracle from is a named val
    named = {}
    for i, l in enumerate(lines):
        m = re.match(r'  val (\w+): Case = Case\("([a-z0-9_]+)"', l)
        if m:
            named[m.group(1)] = (m.group(2), description(lines, i))
    rows = []
    i = lines.index('  val cases: Seq[Case] = Seq(') + 1
    while lines[i] != '  )':
        case = re.match(r'    Case\("([a-z0-9_]+)"', lines[i])
        ref = re.match(r'    (\w+),?$', lines[i])
        if case:
            rows.append((case.group(1), description(lines, i)))
        elif ref:
            rows.append(named[ref.group(1)])
        i += 1
    families[obj] = (title, rows)

se = open('src/main/scala/graft/SparkEntry.scala').read()
fam_list = re.search(r'lazy val families: Seq\[Family\] = Seq\(([^)]*)\)', se).group(1)
order = [n.strip() for n in fam_list.split(',')]
assert sorted(order) == sorted(families), (order, sorted(families))

total = sum(len(rows) for _, rows in families.values())
out = ['# Operator / query index', '',
 'Generated from the registry\'s family files (`src/main/scala/graft/registry`)',
 '— one row per driver query; every one is DuckDB-oracle-checked (see README',
 '"Correctness gate"). Regenerate with `tools/gen_operators_md.py`.', '',
 f'Registry size: **{total} queries**.', '']
for obj in order:
    title, rows = families[obj]
    out += [f'## {title} ({len(rows)})', '', '| query | what it computes |', '|---|---|']
    last = ''
    for n, c in rows:
        desc = c if c else f'(with `{last}`)'
        if c:
            last = n
        out.append(f'| `{n}` | {desc} |')
    out.append('')
open('docs/OPERATORS.md', 'w').write('\n'.join(out) + '\n')
print(f'wrote docs/OPERATORS.md with {total} queries')
