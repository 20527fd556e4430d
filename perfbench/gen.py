"""Seeded generator of mbrainz-shaped EDN inputs for the benchmark.

Writes the reference importer's entity layout (`entities/*.edn`: schema,
enums, the three dictionaries and the seven entity files, one EDN map per
line) plus `expected.json`, a record of what was emitted. Every expected
count is derived here from the generated rows, never from engine output.

Counts at scale 1.0 follow the 1968-1973 mbrainz sample (4,601 artists,
11,510 releases, ...); media rows are contiguous per medium `:id`, about
11 tracks a medium, and a few tracks carry a second artist row (same
`:id` and `:tracknum`), which the importer coalesces onto one track.

Usage: python3 perfbench/gen.py <out_dir> <seed> [scale]
"""
import json
import math
import os
import random
import sys
import uuid

BATCH_SIZE = 100

# The query steps of one mix block, in order; a refresh (append a delta,
# then ask for it) ends each block. A coverage mix, not a traffic model:
# every read kind runs on every seed, releases twice.
MIX_STEPS = ("releases", "tracks", "pull", "explore", "releases")
# Mix blocks a run can run: one in the pass, three in a traced run's
# overhead replay.
MIX_BLOCKS = 4

# 1968-1973 sample row counts (BASELINE.md) at scale 1.0
BASE_COUNTS = {
    "artists": 4601,
    "areleases": 10180,
    "labels": 1207,
    "releases": 11510,
    "artist-credits": 4613,
}
DICT_SIZES = {"countries": 257, "langs": 7777, "scripts": 159}

ENUMS = {
    "gender": ("artist.gender", ["Male", "Female", "Other"]),
    "artist_type": ("artist.type", ["Person", "Group", "Other"]),
    "release_group_type": ("release.type", ["Album", "Single", "EP", "Audiobook", "Other"]),
    "release_packaging": ("release.packaging", ["Jewel Case", "Digipak", "Cardboard/Paper Sleeve",
                                                "Keep Case", "Other", "None"]),
    "medium_format": ("medium.format", ["CD", "Vinyl", "Cassette", "Digital Media", "DVD",
                                        "7\" Vinyl", "12\" Vinyl", "Reel-to-reel"]),
    "label_type": ("label.type", ["Original Production", "Bootleg Production",
                                  "Reissue Production", "Distributor", "Holding", "Publisher"]),
}

# (ident, valueType, cardinality, unique, extra flags)
SCHEMA = [
    ("artist/gid", "uuid", "one", "identity", ()),
    ("artist/name", "string", "one", None, ("fulltext",)),
    ("artist/sortName", "string", "one", None, ()),
    ("artist/type", "ref", "one", None, ()),
    ("artist/gender", "ref", "one", None, ()),
    ("artist/country", "ref", "one", None, ()),
    ("artist/startYear", "long", "one", None, ()),
    ("artist/startMonth", "long", "one", None, ()),
    ("artist/startDay", "long", "one", None, ()),
    ("artist/endYear", "long", "one", None, ()),
    ("artist/endMonth", "long", "one", None, ()),
    ("artist/endDay", "long", "one", None, ()),
    ("abstractRelease/gid", "uuid", "one", "identity", ()),
    ("abstractRelease/name", "string", "one", None, ()),
    ("abstractRelease/type", "ref", "one", None, ()),
    ("abstractRelease/artists", "ref", "many", None, ()),
    ("abstractRelease/artistCredit", "string", "one", None, ("fulltext",)),
    ("release/gid", "uuid", "one", "identity", ()),
    ("release/name", "string", "one", None, ("fulltext",)),
    ("release/artistCredit", "string", "one", None, ("fulltext",)),
    ("release/artists", "ref", "many", None, ()),
    ("release/abstractRelease", "ref", "one", None, ()),
    ("release/labels", "ref", "many", None, ()),
    ("release/packaging", "ref", "one", None, ()),
    ("release/status", "string", "one", None, ()),
    ("release/country", "ref", "one", None, ()),
    ("release/language", "ref", "one", None, ()),
    ("release/script", "ref", "one", None, ()),
    ("release/barcode", "string", "one", None, ()),
    ("release/year", "long", "one", None, ()),
    ("release/month", "long", "one", None, ()),
    ("release/day", "long", "one", None, ()),
    ("release/media", "ref", "many", None, ("component",)),
    ("medium/position", "long", "one", None, ()),
    ("medium/trackCount", "long", "one", None, ()),
    ("medium/format", "ref", "one", None, ()),
    ("medium/name", "string", "one", None, ("fulltext",)),
    ("medium/tracks", "ref", "many", None, ("component",)),
    ("track/name", "string", "one", None, ("fulltext",)),
    ("track/position", "long", "one", None, ()),
    ("track/duration", "long", "one", None, ()),
    ("track/artists", "ref", "many", None, ()),
    ("track/artistCredit", "string", "one", None, ("fulltext",)),
    ("label/gid", "uuid", "one", "identity", ()),
    ("label/name", "string", "one", None, ("fulltext",)),
    ("label/sortName", "string", "one", None, ()),
    ("label/type", "ref", "one", None, ()),
    ("label/country", "ref", "one", None, ()),
    ("label/startYear", "long", "one", None, ()),
    ("label/startMonth", "long", "one", None, ()),
    ("label/startDay", "long", "one", None, ()),
    ("label/endYear", "long", "one", None, ()),
    ("label/endMonth", "long", "one", None, ()),
    ("label/endDay", "long", "one", None, ()),
    ("country/name", "string", "one", "value", ()),
    ("language/name", "string", "one", "value", ()),
    ("script/name", "string", "one", "value", ()),
]

# Input keys the importer maps to an attribute, per entity type
# (graft.model.Mbrainz). Keys not listed are dropped: artists' month and
# day keys are misspelled in the reference's name map, and releases'
# :acid is unmapped.
MAPPED = {
    "artists": {"gid", "name", "sortname", "type", "gender", "country",
                "begin_date_year", "end_date_year", "end_date_month", "end_date_day"},
    "areleases": {"gid", "name", "type", "artist_credit"},
    "releases": {"gid", "artist_credit", "name", "label", "packaging", "status", "country",
                 "language", "script", "barcode", "date_year", "date_month", "date_day",
                 "release_group"},
    "labels": {"gid", "name", "sort_name", "type", "country", "begin_date_year",
               "begin_date_month", "begin_date_day", "end_date_year", "end_date_month",
               "end_date_day"},
    "releases-artists": {"release", "artist"},
    "areleases-artists": {"release_group", "artist"},
}
MEDIUM_KEYS = ("release", "position", "track_count", "format")
TRACK_KEYS = ("name", "tracknum", "length", "artist")

SYLLABLES = ["ka", "lo", "mi", "ra", "ven", "do", "sel", "tu", "bar", "nis", "qua", "fel",
             "or", "an", "zo", "pe", "li", "mon", "gra", "sha", "vi", "tor", "el", "bo"]
LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def edn_str(s):
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def edn_val(v):
    if isinstance(v, int):
        return str(v)
    if isinstance(v, uuid.UUID):
        return '#uuid "%s"' % v
    return edn_str(v)


def edn_map(pairs):
    """One EDN map form from (input-key, value) pairs; None values omitted."""
    return "{" + ", ".join(":%s %s" % (k, edn_val(v)) for k, v in pairs if v is not None) + "}"


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)

    def uuid(self):
        return uuid.UUID(int=self.rng.getrandbits(128), version=4)

    def word(self, lo=2, hi=3):
        return "".join(self.rng.choice(SYLLABLES) for _ in range(self.rng.randint(lo, hi)))

    def name(self, words=2):
        return " ".join(self.word().capitalize() for _ in range(words))

    def maybe(self, p, v):
        return v if self.rng.random() < p else None

    def codes(self, n, width):
        seen, out = set(), []
        while len(out) < n:
            c = "".join(self.rng.choice(LETTERS) for _ in range(width))
            if c not in seen:
                seen.add(c)
                out.append(c)
        return out


def scaled(n, scale):
    return max(1, int(round(n * scale)))


def generate(out_dir, seed, scale=1.0):
    """Write `<out_dir>/entities/*.edn` and `<out_dir>/expected.json`;
    return the expected record."""
    g = Gen(seed)
    ent_dir = os.path.join(out_dir, "entities")
    os.makedirs(ent_dir, exist_ok=True)
    files = {}

    def put(name, lines):
        files[name] = lines

    # schema, enums, dictionaries
    schema_forms = []
    for ident, vt, card, uniq, flags in SCHEMA:
        pairs = [":db/ident :%s" % ident, ":db/valueType :db.type/%s" % vt,
                 ":db/cardinality :db.cardinality/%s" % card]
        if uniq:
            pairs.append(":db/unique :db.unique/%s" % uniq)
        if "fulltext" in flags:
            pairs.append(":db/fulltext true")
        if "component" in flags:
            pairs.append(":db/isComponent true")
        pairs.append(":db/doc %s" % edn_str("The " + ident.replace("/", " ") + " attribute"))
        schema_forms.append("{" + ", ".join(pairs) + "}")
    put("schema.edn", ["[" + "\n ".join(schema_forms) + "]"])

    enum_lines = []
    for cls, (ns, values) in ENUMS.items():
        inner = ", ".join("%s :%s/%s" % (edn_str(v), ns, "".join(ch for ch in v.lower() if ch.isalnum()))
                          for v in values)
        enum_lines.append(" %s {%s}" % (cls, inner))
    put("enums.edn", ["{" + "\n".join(enum_lines).lstrip() + "}"])

    dict_ns = {"countries": ("country", 2), "langs": ("language", 3), "scripts": ("script", 4)}
    dict_codes = {}
    for d, (ns, width) in dict_ns.items():
        codes = g.codes(DICT_SIZES[d], width)
        dict_codes[d] = codes
        entries = ["%s {:db/ident :%s/%s, :%s/name %s}" % (
            edn_str(c), ns, c, ns, edn_str("%s %s" % (g.name(1), c))) for c in codes]
        put("%s.edn" % d, ["{" + "\n ".join(entries) + "}"])

    countries = dict_codes["countries"][:60]
    langs = dict_codes["langs"][:40]
    scripts = dict_codes["scripts"][:10]

    def date_triple(prefix, lo, hi, p):
        if g.rng.random() >= p:
            return [(prefix + "_year", None), (prefix + "_month", None), (prefix + "_day", None)]
        return [(prefix + "_year", g.rng.randint(lo, hi)),
                (prefix + "_month", g.maybe(0.8, g.rng.randint(1, 12))),
                (prefix + "_day", g.maybe(0.7, g.rng.randint(1, 28)))]

    rows = {}
    # artists
    artists = []
    for _ in range(scaled(BASE_COUNTS["artists"], scale)):
        nm = g.name(2)
        first, last = nm.split(" ")
        artists.append([("gid", g.uuid()), ("name", nm), ("sortname", last + ", " + first),
                        ("type", g.maybe(0.9, g.rng.choice(ENUMS["artist_type"][1]))),
                        ("gender", g.maybe(0.6, g.rng.choice(ENUMS["gender"][1]))),
                        ("country", g.maybe(0.85, g.rng.choice(countries)))]
                       + date_triple("begin_date", 1900, 1960, 0.8)
                       + date_triple("end_date", 1961, 2020, 0.2))
    rows["artists"] = artists
    artist_gids = [dict(a)["gid"] for a in artists]
    artist_names = {dict(a)["gid"]: dict(a)["name"] for a in artists}

    # labels
    labels = []
    for _ in range(scaled(BASE_COUNTS["labels"], scale)):
        nm = g.name(2) + " Records"
        labels.append([("gid", g.uuid()), ("name", nm), ("sort_name", nm),
                       ("type", g.maybe(0.7, g.rng.choice(ENUMS["label_type"][1]))),
                       ("country", g.maybe(0.8, g.rng.choice(countries)))]
                      + date_triple("begin_date", 1920, 1970, 0.6)
                      + date_triple("end_date", 1971, 2010, 0.2))
    rows["labels"] = labels
    label_gids = [dict(lb)["gid"] for lb in labels]

    # abstract releases and their artist edges
    areleases, arel_artists, arel_gids = [], [], []
    for _ in range(scaled(BASE_COUNTS["areleases"], scale)):
        gid = g.uuid()
        credit = g.rng.choice(artist_gids)
        areleases.append([("gid", gid), ("name", g.name(g.rng.randint(1, 3))),
                          ("type", g.maybe(0.9, g.rng.choice(ENUMS["release_group_type"][1]))),
                          ("artist_credit", artist_names[credit])])
        arel_gids.append(gid)
        arel_artists.append([("release_group", gid), ("artist", credit)])
        if g.rng.random() < 0.036:
            arel_artists.append([("release_group", gid), ("artist", g.rng.choice(artist_gids))])
    rows["areleases"] = areleases
    rows["areleases-artists"] = arel_artists

    # releases and their artist edges
    releases, rel_artists = [], []
    for _ in range(scaled(BASE_COUNTS["releases"], scale)):
        gid = g.uuid()
        credit = g.rng.choice(artist_gids)
        releases.append([("gid", gid), ("artist_credit", artist_names[credit]),
                         ("name", g.name(g.rng.randint(1, 3))),
                         ("label", g.maybe(0.8, g.rng.choice(label_gids))),
                         ("packaging", g.maybe(0.5, g.rng.choice(ENUMS["release_packaging"][1]))),
                         ("status", g.maybe(0.9, "Official")),
                         ("country", g.maybe(0.9, g.rng.choice(countries))),
                         ("language", g.maybe(0.7, g.rng.choice(langs))),
                         ("script", g.maybe(0.7, g.rng.choice(scripts))),
                         ("barcode", g.maybe(0.3, str(g.rng.randrange(10 ** 11, 10 ** 12)))),
                         ("date_year", g.rng.randint(1968, 1973)),
                         ("date_month", g.maybe(0.8, g.rng.randint(1, 12))),
                         ("date_day", g.maybe(0.6, g.rng.randint(1, 28))),
                         ("release_group", g.rng.choice(arel_gids)),
                         ("acid", g.rng.randint(1, 10 ** 6))])
        rel_artists.append([("release", gid), ("artist", credit)])
        if g.rng.random() < 0.026:
            other = g.rng.choice(artist_gids)
            if other != credit:
                rel_artists.append([("release", gid), ("artist", other)])
    rows["releases"] = releases
    rows["releases-artists"] = rel_artists

    rows["artist-credits"] = [[("acid", i + 1), ("name", g.name(2))]
                              for i in range(scaled(BASE_COUNTS["artist-credits"], scale))]

    # media: one medium per release, a second for one release in ten
    media, medium_id = [], 0
    rel_credit = {}  # a release's tracks are by its first credited artist
    for ra in rel_artists:
        rel_credit.setdefault(dict(ra)["release"], dict(ra)["artist"])
    for r in releases:
        rgid = dict(r)["gid"]
        for pos in range(1, 3 if g.rng.random() < 0.1 else 2):
            medium_id += 1
            n_tracks = g.rng.randint(8, 14)
            fmt = g.maybe(0.9, g.rng.choice(ENUMS["medium_format"][1]))
            for tn in range(1, n_tracks + 1):
                base = [("id", medium_id), ("release", rgid), ("position", pos),
                        ("track_count", n_tracks), ("format", fmt), ("name", g.name(g.rng.randint(1, 3))),
                        ("tracknum", tn), ("length", g.rng.randint(90000, 480000))]
                media.append(base + [("artist", rel_credit[rgid])])
                if g.rng.random() < 0.05:
                    media.append(base + [("artist", g.rng.choice(artist_gids))])
    rows["media"] = media

    for t, rs in rows.items():
        put("%s.edn" % t, [edn_map(r) for r in rs])

    for name, lines in files.items():
        with open(os.path.join(ent_dir, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    expected = expected_record(rows, dict_codes, g)
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


def present(row, keys):
    return sum(1 for k, v in row if v is not None and k in keys)


def expected_record(rows, dict_codes, g):
    """Counts per import type, from the emitted rows and the importer's
    documented mapping: every mapped, present key is one datom, every
    batch adds its batch-id and txInstant datoms."""
    def batches(n):
        return int(math.ceil(n / float(BATCH_SIZE)))

    types = {}
    n_schema = len(SCHEMA)
    schema_datoms = sum(4 + (1 if u else 0) + len(fl) for _, _, _, u, fl in SCHEMA)
    types["schema"] = {"rows": n_schema, "datoms": schema_datoms}
    n_enums = sum(len(v) for _, v in ENUMS.values())
    types["enums"] = {"rows": n_enums, "datoms": 2 * n_enums}
    n_dict = sum(len(c) for c in dict_codes.values())
    types["super-enums"] = {"rows": n_dict, "datoms": 2 * n_dict}
    for t in ("artists", "areleases", "areleases-artists", "labels", "releases", "releases-artists"):
        types[t] = {"rows": len(rows[t]), "input_rows": len(rows[t]),
                    "datoms": sum(present(r, MAPPED[t]) for r in rows[t])}

    # media: one entity per medium (contiguous :id run), one child map per row
    media_rows = rows["media"]
    mediums, medium_datoms, track_datoms = 0, 0, 0
    last_id = None
    for r in media_rows:
        d = dict(r)
        if d["id"] != last_id:
            mediums += 1
            last_id = d["id"]
            medium_datoms += present(r, MEDIUM_KEYS)
        track_datoms += present(r, TRACK_KEYS) + 1  # + the :medium/tracks ref
    types["media"] = {"rows": mediums, "input_rows": len(media_rows),
                      "datoms": medium_datoms + track_datoms}

    for t, rec in types.items():
        rec["batches"] = batches(rec["rows"])
        rec["datoms"] += 2 * rec["batches"]

    # entities per unique attribute (Explore.entityCountsByUniqueAttr)
    distinct = lambda t, k: len({dict(r)[k] for r in rows[t]})
    unique_counts = {
        "artist/gid": len(rows["artists"]),
        "label/gid": len(rows["labels"]),
        "abstractRelease/gid": distinct("areleases", "gid"),
        "release/gid": distinct("releases", "gid"),
        "country/name": len(dict_codes["countries"]),
        "language/name": len(dict_codes["langs"]),
        "script/name": len(dict_codes["scripts"]),
    }

    # per-artist ground truth for the query mix: releases and tracks
    rel_names = {dict(r)["gid"]: dict(r)["name"] for r in rows["releases"]}
    by_artist_rel, by_artist_trk = {}, {}
    for r in rows["releases-artists"]:
        d = dict(r)
        by_artist_rel.setdefault(d["artist"], set()).add(d["release"])
    for r in media_rows:
        d = dict(r)
        by_artist_trk.setdefault(d["artist"], set()).add((d["id"], d["tracknum"]))
    candidates = sorted(by_artist_rel, key=str)
    probes = g.rng.sample(candidates, min(64, len(candidates)))
    artists = []
    for a in probes:
        rels = sorted(by_artist_rel[a], key=str)
        artists.append({"gid": str(a),
                        "releases": [[str(x), rel_names[x]] for x in rels],
                        "tracks": len(by_artist_trk.get(a, ()))})

    # the query mix: one fixed block of query steps (every kind at least
    # once), then a refresh; the seed picks only each step's probe artist
    mix = [{"op": op, "artist": g.rng.randrange(len(artists))} for op in MIX_STEPS]
    # one new release per block a run can run: the pass's block and the
    # three of a traced run's overhead replay
    deltas = [{"release_gid": str(g.uuid()), "name": "Delta " + g.name(2),
               "artist": g.rng.randrange(len(artists))} for _ in range(MIX_BLOCKS)]
    return {
        "batch_size": BATCH_SIZE,
        "types": types,
        "unique_attr_entities": unique_counts,
        # schema attrs with :db/unique, plus the loader's batch-id attr
        "unique_attrs": sum(1 for a in SCHEMA if a[3]) + 1,
        "batch_prefixes": batch_prefixes(types),
        "artists": artists,
        "mix": mix,
        "deltas": deltas,
    }


def batch_prefixes(types):
    """Explore.batchFrequencies: batch ids grouped on the text before the
    first dash, so `areleases-artists-3` counts under `areleases`."""
    out = {"import": 1}  # the loader's import-schema-1 batch
    for t, rec in types.items():
        p = t.split("-")[0]
        out[p] = out.get(p, 0) + rec["batches"]
    return out


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 1.0)
