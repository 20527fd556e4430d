"""Tests of the benchmark's generator and output contract.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import math
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

TINY = 0.01
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- an EDN reader written for these tests, independent of gen.py ------------

TOKEN = re.compile(r'''[\s,]*(?:(?P<open>[{\[(])|(?P<close>[}\])])|"(?P<str>(?:[^"\\]|\\.)*)"'''
                   r'''|(?P<tag>#[A-Za-z]+)|(?P<atom>[^\s,{}\[\]()"]+))''')


def read_edn(text):
    """All top-level forms of `text`: maps become dicts keyed by keyword
    or string, vectors lists, `#uuid "x"` the string x."""
    pos, forms = 0, []

    def form():
        nonlocal pos
        m = TOKEN.match(text, pos)
        pos = m.end()
        if m.group("open"):
            items = []
            while True:
                m2 = TOKEN.match(text, pos)
                if m2.group("close"):
                    pos = m2.end()
                    break
                items.append(form())
            if m.group("open") == "{":
                return dict(zip(items[0::2], items[1::2]))
            return items
        if m.group("str") is not None:
            return bytes(m.group("str"), "utf-8").decode("unicode_escape")
        if m.group("tag"):
            return form()
        atom = m.group("atom")
        if re.fullmatch(r"-?\d+", atom):
            return int(atom)
        return {"true": True, "false": False, "nil": None}.get(atom, atom)

    while text[pos:].strip(" \n\t,"):
        forms.append(form())
    return forms


def read_file(path):
    with open(path, encoding="utf-8") as f:
        return read_edn(f.read())


def importer_mappings():
    """Input keys the importer maps, per entity type, read from the
    engine's own model (graft/model/Mbrainz.scala)."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "model", "Mbrainz.scala")) as f:
        src = f.read()
    out = {}
    for m in re.finditer(r'EntityType\(\s*name = "([^"]+)",(.*?)required =', src, re.S):
        out[m.group(1)] = set(re.findall(r'AttrMapping\("(\w+)"', m.group(2)))
    for part in ("mediumMappings", "trackMappings"):
        body = re.search(part + r": Seq\[AttrMapping\] = Seq\((.*?)\)\n\n", src, re.S).group(1)
        out[part] = set(re.findall(r'AttrMapping\("(\w+)"', body))
    return out


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.exp = gen.generate(cls.a, 5, TINY)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def entity(self, name):
        return read_file(os.path.join(self.a, "entities", name + ".edn"))

    def test_same_seed_gives_identical_bytes(self):
        b = os.path.join(self.tmp.name, "b")
        gen.generate(b, 5, TINY)
        for sub in ("entities", "."):
            names = sorted(f for f in os.listdir(os.path.join(self.a, sub))
                           if os.path.isfile(os.path.join(self.a, sub, f)))
            match, mismatch, errors = filecmp.cmpfiles(
                os.path.join(self.a, sub), os.path.join(b, sub), names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertTrue(match)

    def test_other_seed_gives_other_inputs(self):
        c = os.path.join(self.tmp.name, "c")
        gen.generate(c, 6, TINY)
        for name in ("artists.edn", "releases.edn", "media.edn"):
            self.assertFalse(filecmp.cmp(os.path.join(self.a, "entities", name),
                                         os.path.join(c, "entities", name), shallow=False), name)

    def test_counts_match_an_independent_parse(self):
        mapped = importer_mappings()
        types = self.exp["types"]
        for t in ("artists", "areleases", "areleases-artists", "labels", "releases",
                  "releases-artists"):
            rows = self.entity(t)
            self.assertEqual(types[t]["rows"], len(rows), t)
            self.assertEqual(types[t]["batches"], math.ceil(len(rows) / 100), t)
            present = sum(1 for r in rows for k, v in r.items()
                          if v is not None and k[1:] in mapped[t])
            self.assertEqual(types[t]["datoms"], present + 2 * types[t]["batches"], t)

        media = self.entity("media")
        ids = [r[":id"] for r in media]
        runs = [i for n, i in enumerate(ids) if n == 0 or ids[n - 1] != i]
        self.assertEqual(len(runs), len(set(ids)), "media rows are contiguous per :id")
        self.assertEqual(types["media"]["rows"], len(runs))
        self.assertEqual(types["media"]["input_rows"], len(media))
        firsts = [r for n, r in enumerate(media) if n == 0 or media[n - 1][":id"] != r[":id"]]
        datoms = (sum(1 for r in firsts for k in r if k[1:] in mapped["mediumMappings"])
                  + sum(1 + sum(1 for k in r if k[1:] in mapped["trackMappings"]) for r in media))
        self.assertEqual(types["media"]["datoms"], datoms + 2 * types["media"]["batches"])
        tracks = {}
        for r in media:
            tracks.setdefault((r[":id"], r[":tracknum"]), set()).add(r[":artist"])
        self.assertTrue(any(len(a) > 1 for a in tracks.values()), "a multi-artist track")

        schema = self.entity("schema")[0]
        self.assertEqual(types["schema"]["rows"], len(schema))
        self.assertEqual(types["schema"]["datoms"], sum(len(a) for a in schema) + 2)
        enums = self.entity("enums")[0]
        self.assertEqual(types["enums"]["rows"], sum(len(v) for v in enums.values()))
        dicts = {d: self.entity(d)[0] for d in ("countries", "langs", "scripts")}
        self.assertEqual(types["super-enums"]["rows"], sum(len(v) for v in dicts.values()))
        self.assertEqual(self.exp["unique_attrs"], 1 + sum(1 for a in schema if ":db/unique" in a))

        uniq = self.exp["unique_attr_entities"]
        self.assertEqual(uniq["artist/gid"], len({r[":gid"] for r in self.entity("artists")}))
        self.assertEqual(uniq["release/gid"], len({r[":gid"] for r in self.entity("releases")}))
        self.assertEqual(uniq["language/name"], len(dicts["langs"]))

    def test_probe_artists_match_an_independent_parse(self):
        names = {r[":gid"]: r[":name"] for r in self.entity("releases")}
        by_artist = {}
        for r in self.entity("releases-artists"):
            by_artist.setdefault(r[":artist"], set()).add(r[":release"])
        tracks = {}
        for r in self.entity("media"):
            tracks.setdefault(r[":artist"], set()).add((r[":id"], r[":tracknum"]))
        self.assertTrue(self.exp["artists"])
        for a in self.exp["artists"]:
            self.assertEqual(sorted(map(tuple, a["releases"])),
                             sorted((g, names[g]) for g in by_artist[a["gid"]]))
            self.assertEqual(a["tracks"], len(tracks.get(a["gid"], ())))

    def test_mix_is_fixed_and_only_its_arguments_are_seeded(self):
        self.assertEqual([s["op"] for s in self.exp["mix"]], list(gen.MIX_STEPS))
        self.assertEqual({"releases", "tracks", "pull", "explore"}, set(gen.MIX_STEPS))
        self.assertEqual(len(self.exp["deltas"]), gen.MIX_BLOCKS)
        for s in self.exp["mix"] + self.exp["deltas"]:
            self.assertIn(s["artist"], range(len(self.exp["artists"])))


class ContractTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_metric_names_and_units(self):
        metrics = self.spec["end_to_end"] + self.spec["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(self.spec["per_layer"]), 128)
        for m in metrics:
            self.assertRegex(m["name"], NAME_RE)
            self.assertRegex(m["unit"], UNIT_RE)
        self.assertIn("setup_s", names)

    def test_printed_line_carries_every_metric_with_its_unit(self):
        for trace, chosen in ((0, self.spec["end_to_end"]), (1, self.spec["per_layer"])):
            line = run.contract_line(self.spec, trace, {"pass_s": 1.5}, {"store.append.s": 0.25},
                                     True, 3, 0)
            out = json.loads(line)
            self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
            self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in chosen))
            for m in chosen:
                got = out["metrics"][m["name"]]
                self.assertRegex(m["name"], NAME_RE)
                self.assertEqual(got["unit"], m["unit"])
                self.assertIsInstance(got["value"], float)


if __name__ == "__main__":
    unittest.main()
