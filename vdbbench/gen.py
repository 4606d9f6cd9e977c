"""Seeded input generator for the vul-db benchmark.

Writes, from one integer seed:

* ``build_daily``: feed files in the real feeds' layout -- one Ubuntu
  tracker file per CVE and one Go OSV file per advisory, beside per-year
  NVD JSON, a Debian tracker JSON, a RHEL OVAL XML, per-release Alpine
  secdb JSON and a GHSA NDJSON file (shapes as in FIXTURES.md).  Beside
  them, for the scan layer of the traced run, a fleet vulnerability DB as
  JSON-lines ``Vulnerability`` rows and a fleet inventory CSV of
  (namespace, feature, version) rows, with hot-feature skew.
* ``prep_heavy``: a fixed document corpus (JSON lines) shaped like the
  ``documents`` test table; it does not depend on the seed.

The same seed gives the same bytes.  Usage::

    python3 vdbbench/gen.py <workload> <seed> <outDir>
"""

import json
import os
import random
import sys

YEARS = list(range(2015, 2025))
WORDS = ("buffer overflow in the parser allows remote attackers to cause a "
         "denial of service or possibly execute arbitrary code via crafted "
         "input because length checks are missing when handling packets "
         "headers certificates archives requests and cookies").split()
PKGS = ["openssl", "curl", "glibc", "zlib", "libxml2", "openldap", "sudo",
        "bash", "systemd", "nginx", "python3", "perl", "expat", "sqlite3",
        "libpng", "libtiff", "gnutls", "krb5", "openssh", "busybox"]
PKGS += ["lib%s%d" % (w, i) for i, w in enumerate(WORDS[:20])]
UBUNTU_RELEASES = ["xenial", "bionic", "focal", "jammy", "noble", "upstream"]
DEBIAN_RELEASES = ["buster", "bullseye", "bookworm", "trixie", "sid"]
ALPINE_RELEASES = ["v3.16", "v3.17", "v3.18", "v3.19"]

# Record counts per feed: one Ubuntu tracker file per CVE and one Go OSV
# file per advisory (the real feeds' layout), beside a few large files.
# NVD CVEs : Ubuntu tracker files is 3.125 : 1, the ratio of the real
# feeds at a tenth of their volume (20,000 : 6,400).  The absolute size
# keeps a run (a cold build, then a timed one) near a minute.
FEEDS = dict(cves=1875, ubuntu=600, debian=400, rhel=150, alpine=300,
             ghsa=300, go=100, fixes=(1, 3), desc=(12, 30))

# Fleet parameters: hot features carry many fix ranges per namespace and
# dominate the inventory; ~HIT_FRAC of inventory rows sit below a fix.
FLEET_NAMESPACES = ["ubuntu:20.04", "ubuntu:22.04", "debian:11", "debian:12",
                    "centos:8", "alpine:3.18"]
HOT_FEATURES = ["linux", "openssl", "glibc", "curl"]
HOT_RANGES = 80
COLD_FEATURES = 300
INVENTORY_ROWS = 40000
HIT_FRAC = 0.3

PREP_DOCS = 1000
PREP_SEED = 42


def cve_id(i):
    return "CVE-%d-%d" % (YEARS[i % len(YEARS)], 10000 + i)


def text(rng, lo, hi):
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def version(rng):
    return "%d.%d.%d-%d" % (rng.randint(1, 9), rng.randint(0, 20),
                            rng.randint(0, 40), rng.randint(1, 9))


def open_w(path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return open(path, "w", encoding="utf-8", newline="\n")


def write(path, data):
    with open_w(path) as f:
        f.write(data)


# ---- feeds ---------------------------------------------------------------

def ubuntu_file(rng, cve, nfix, desc):
    lines = ["Candidate: %s" % cve,
             "PublicDate: %s-03-01" % cve[4:8],
             "References:",
             " https://cve.mitre.org/cgi-bin/cvename.cgi?name=%s" % cve,
             "Description:"]
    words = desc.split()
    lines += [" " + " ".join(words[i:i + 10]) for i in range(0, len(words), 10)]
    lines += ["Ubuntu-Description:", "Notes:",
              "Priority: %s" % rng.choice(["low", "medium", "high", "negligible"]),
              "Bugs:"]
    for pkg in rng.sample(PKGS, nfix):
        for rel in rng.sample(UBUNTU_RELEASES, 2):
            st = rng.choice(["released", "released", "needed", "not-affected", "DNE"])
            if st == "released":
                lines.append("%s_%s: released (%s)" % (rel, pkg, version(rng)))
            else:
                lines.append("%s_%s: %s" % (rel, pkg, st))
    return "\n".join(lines) + "\n"


def nvd_entry(rng, cve, desc):
    v3 = round(rng.uniform(1.0, 10.0), 1)
    return {"cve": {
        "id": cve,
        "published": "%s-03-01T10:15:00" % cve[4:8],
        "lastModified": "%s-06-09T10:15:00" % cve[4:8],
        "descriptions": [{"lang": "en", "value": desc}],
        "metrics": {
            "cvssMetricV31": [{"cvssData": {
                "vectorString": "CVSS:3.1/AV:N/AC:L/PR:N/UI:N/S:U/C:H/I:H/A:H",
                "baseScore": v3, "baseSeverity": "HIGH"}}],
            "cvssMetricV2": [{"cvssData": {
                "vectorString": "AV:N/AC:L/Au:N/C:P/I:P/A:P",
                "baseScore": round(rng.uniform(1.0, 10.0), 1)},
                "baseSeverity": "MEDIUM"}]},
        "configurations": [{"nodes": [{"operator": "OR", "cpeMatch": [{
            "criteria": "cpe:2.3:a:vendor:%s:*:*:*:*:*:*:*:*" % rng.choice(PKGS),
            "vulnerable": True,
            "versionStartIncluding": "1.0.0",
            "versionEndExcluding": "%d.%d.%d" % (rng.randint(1, 9),
                                                  rng.randint(0, 9),
                                                  rng.randint(0, 9))}]}]}]}}


def rhel_definition(rng, i, cves, nfix, desc):
    year = cves[0][4:8]
    rhsa = "RHSA-%s:%d" % (year, 1000 + i)
    pkgs = rng.sample(PKGS, nfix)
    refs = ['<reference source="RHSA" ref_id="%s" ref_url="https://access.redhat.com/errata/%s"/>'
            % (rhsa, rhsa)]
    refs += ['<reference source="CVE" ref_id="%s" ref_url="https://access.redhat.com/security/cve/%s"/>'
             % (c, c) for c in cves]
    advisory_cves = "".join(
        '<cve cvss3="%.1f/CVSS:3.1/AV:N/AC:L" impact="important">%s</cve>'
        % (rng.uniform(1, 10), c) for c in cves)
    crit = "".join(
        '<criteria operator="AND">'
        '<criterion comment="%s is earlier than 0:%s.el8" test_ref="oval:com.redhat.rhsa:tst:%d%02d"/>'
        '<criterion comment="%s is signed with Red Hat redhatrelease2 key" test_ref="oval:com.redhat.rhsa:tst:%d%02d9"/>'
        '</criteria>' % (p, version(rng), i, k, p, i, k) for k, p in enumerate(pkgs))
    return ("<definition class=\"patch\" id=\"oval:com.redhat.rhsa:def:%d\"><metadata>"
            "<title>%s: %s security update (Important)</title>"
            "<description>%s</description>%s"
            "<advisory><severity>Important</severity>"
            "<issued date=\"%s-03-01\"/><updated date=\"%s-03-09\"/>%s"
            "<affected_cpe_list><cpe>cpe:/o:redhat:enterprise_linux:8</cpe></affected_cpe_list>"
            "</advisory></metadata>"
            "<criteria operator=\"AND\">"
            "<criterion comment=\"Red Hat Enterprise Linux 8 is installed\" test_ref=\"oval:com.redhat.rhsa:tst:%d\"/>"
            "<criteria operator=\"OR\">%s</criteria></criteria></definition>\n"
            % (i, rhsa, pkgs[0], desc, "".join(refs), year, year,
               advisory_cves, i, crit))


def go_advisory(rng, i, cve, nfix, desc):
    module = "github.com/org%d/mod%d" % (i % 50, i)
    ranges = []
    for _ in range(nfix):
        ranges.append({"type": "SEMVER", "events": [
            {"introduced": "%d.%d.0" % (rng.randint(0, 3), rng.randint(0, 9))},
            {"fixed": "%d.%d.%d" % (rng.randint(4, 9), rng.randint(0, 9),
                                    rng.randint(0, 9))}]})
    return {"id": "GO-%s-%04d" % (cve[4:8], i),
            "published": "%s-03-01T00:00:00Z" % cve[4:8],
            "modified": "%s-03-09T00:00:00Z" % cve[4:8],
            "aliases": [cve], "details": desc,
            "affected": [{"package": {"name": module, "ecosystem": "Go"},
                          "ranges": ranges,
                          "ecosystem_specific": {"imports": [
                              {"path": module + "/pkg", "symbols": ["Do"]}]}}],
            "database_specific": {"url": "https://pkg.go.dev/vuln/GO-%d" % i},
            "severity": [{"type": "CVSS_V3", "score": "%.1f" % rng.uniform(1, 10)}]}


def ghsa_line(rng, i, cve, desc):
    lo = "%d.%d.0" % (rng.randint(1, 4), rng.randint(0, 9))
    fixed = "%d.%d.%d" % (rng.randint(5, 9), rng.randint(0, 9), rng.randint(1, 9))
    return {"id": str(i),
            "package": {"ecosystem": "MAVEN",
                        "name": "org.example%d:artifact%d" % (i % 40, i)},
            "advisory": {"ghsaId": "GHSA-%04d-bnch" % i,
                         "severity": rng.choice(["LOW", "MODERATE", "HIGH", "CRITICAL"]),
                         "summary": "artifact%d vulnerability" % i, "description": desc,
                         "publishedAt": "%s-03-01T00:00:00Z" % cve[4:8],
                         "updatedAt": "%s-03-09T00:00:00Z" % cve[4:8],
                         "permalink": "https://github.com/advisories/GHSA-%04d" % i,
                         "cvss": {"vectorString": "CVSS:3.1/AV:N/AC:L",
                                  "score": round(rng.uniform(1, 10), 1)},
                         "identifiers": [{"type": "CVE", "value": cve}],
                         "cwes": {"nodes": [{"cweid": "CWE-502"}]}},
            "vulnerableVersionRange": ">= %s, < %s" % (lo, fixed),
            "firstPatchedVersion": {"identifier": fixed}}


def gen_build(out, seed):
    p = FEEDS
    rng = random.Random("build:%d" % seed)
    n = p["cves"]
    cves = [cve_id(i) for i in range(n)]

    def nfix():
        return rng.randint(*p["fixes"])

    def desc():
        return text(rng, *p["desc"])

    # NVD: one JSON file per year
    nvd = {}
    for c in cves:
        nvd.setdefault(c[4:8], []).append(nvd_entry(rng, c, desc()))
    for year, entries in sorted(nvd.items()):
        write(os.path.join(out, "nvd", "nvdcve-2.0-%s.json" % year),
              json.dumps({"startIndex": 0, "totalResults": len(entries),
                          "vulnerabilities": entries}))

    # Ubuntu tracker: one file per CVE under active/ and retired/
    for i, c in enumerate(cves[:p["ubuntu"]]):
        sub = "retired" if i % 10 == 0 else "active"
        write(os.path.join(out, "ubuntu", sub, c), ubuntu_file(rng, c, nfix(), desc()))

    # Debian tracker JSON: {pkg: {cve: {description, releases}}}
    deb = {}
    for c in cves[n - p["debian"]:]:
        for pkg in rng.sample(PKGS, max(1, nfix() // 2)):
            rels = {}
            for rel in rng.sample(DEBIAN_RELEASES, 1 + nfix() // 2):
                st = rng.choice(["resolved", "resolved", "open", "undetermined"])
                rels[rel] = {"status": st,
                             "fixed_version": version(rng) if st == "resolved" else "",
                             "urgency": rng.choice(["low", "medium", "high", "unimportant"])}
            deb.setdefault(pkg, {})[c] = {"description": desc(), "releases": rels}
    write(os.path.join(out, "debian", "debian.json"), json.dumps(deb))

    # RHEL OVAL: one XML file of RHSA definitions, 1-3 CVEs each
    defs = []
    for i in range(p["rhel"]):
        refs = [cves[(7 * i + k) % n] for k in range(1 + i % 3)]
        defs.append(rhel_definition(rng, i, refs, nfix(), desc()))
    write(os.path.join(out, "rhel", "rhel-8.oval.xml"),
          '<?xml version="1.0" encoding="UTF-8"?>\n<oval_definitions><definitions>\n'
          + "".join(defs) + "</definitions></oval_definitions>\n")

    # Alpine secdb: one file per release
    per_rel = p["alpine"] // len(ALPINE_RELEASES)
    for r, rel in enumerate(ALPINE_RELEASES):
        pk = {}
        for j in range(per_rel):
            c = cves[(r * per_rel + j) * 3 % n]
            fixes = pk.setdefault(rng.choice(PKGS), {})
            fixes.setdefault("%s-r%d" % (version(rng).split("-")[0], rng.randint(0, 5)),
                             []).append(c)
        write(os.path.join(out, "alpine", "%s-main.json" % rel),
              json.dumps({"archs": ["x86_64"], "distroversion": rel,
                          "packages": [{"pkg": {"name": k, "secfixes": v}}
                                       for k, v in pk.items()]}))

    # GHSA NDJSON, one ecosystem file
    lines = [json.dumps(ghsa_line(rng, i, cves[(5 * i) % n], desc()))
             for i in range(p["ghsa"])]
    write(os.path.join(out, "ghsa", "maven.ndjson"), "\n".join(lines) + "\n")

    # Go OSV: one advisory per file
    for i in range(p["go"]):
        a = go_advisory(rng, i, cves[(11 * i) % n], nfix(), desc())
        write(os.path.join(out, "go", a["id"] + ".json"), json.dumps(a))


# ---- fleet ---------------------------------------------------------------

def gen_fleet(out, seed):
    rng = random.Random("fleet:%d" % seed)
    db = []
    keys = set()  # (namespace, feature) pairs with fix ranges

    def vuln(i, ns, fixed_in):
        db.append({"name": "CVE-%d-%d" % (YEARS[i % len(YEARS)], 20000 + i),
                   "namespace": ns, "description": text(rng, 6, 12),
                   "link": "https://example.invalid/%d" % i,
                   "severity": rng.choice(["Low", "Medium", "High", "Critical"]),
                   "cvssV2Score": 5.0, "cvssV2Vectors": "AV:N",
                   "cvssV3Score": 7.0, "cvssV3Vectors": "CVSS:3.1/AV:N",
                   "issuedDate": None, "lastModDate": None, "cves": [],
                   "fixedIn": fixed_in, "cpes": [], "feedRating": ""})

    i = 0
    for ns in FLEET_NAMESPACES:
        feats = [(f, HOT_RANGES) for f in HOT_FEATURES]
        feats += [("pkg%03d" % k, rng.randint(1, 4)) for k in range(COLD_FEATURES)]
        for feat, nr in feats:
            for _ in range(nr):
                fixed = version(rng)
                floor = "#MINV#" if rng.random() < 0.7 else "%d.0" % rng.randint(1, 3)
                keys.add((ns, feat))
                vuln(i, ns, [{"featureName": feat, "featureNamespace": ns,
                              "version": fixed, "minVer": floor}])
                i += 1
    with open_w(os.path.join(out, "fleet", "db.jsonl")) as f:
        for row in db:
            f.write(json.dumps(row) + "\n")

    # Inventory: half the rows name a hot feature.  With probability
    # HIT_FRAC the installed version is drawn from the fix versions' span,
    # else it sits above every fix (not affected).
    keys = sorted(keys)
    hot = [k for k in keys if k[1] in HOT_FEATURES]
    with open_w(os.path.join(out, "fleet", "inventory.csv")) as f:
        for _ in range(INVENTORY_ROWS):
            ns, feat = rng.choice(hot) if rng.random() < 0.5 else rng.choice(keys)
            if rng.random() < HIT_FRAC:
                v = version(rng)
            else:
                v = "%d.0.0-1" % (10 + rng.randint(0, 5))
            f.write("%s,%s,%s\n" % (ns, feat, v))


# ---- documents -----------------------------------------------------------

def gen_docs(out):
    rng = random.Random(PREP_SEED)
    vocab = ("key agg row scan slow fast table value part hash merge batch "
             "spark line sort window order data column join small customer "
             "query filter group big vector stream the a").split()
    langs = ["en"] * 4 + ["de", "es", "fr", "zh"]
    docs = []
    for i in range(PREP_DOCS):
        r = rng.random()
        if i > 10 and r < 0.08:          # exact duplicate of an earlier doc
            t = docs[rng.randrange(len(docs))]["text"]
        elif i > 10 and r < 0.14:        # near duplicate: a few words swapped
            w = docs[rng.randrange(len(docs))]["text"].split()
            for _ in range(2):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            t = " ".join(w)
        elif r < 0.17:                   # repetitive doc the gates drop
            t = " ".join([rng.choice(vocab)] * rng.randint(20, 60))
        else:
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 90)))
        docs.append({"doc_id": i, "text": t, "lang": rng.choice(langs),
                     "source": "src%d" % rng.randrange(20), "n_chars": len(t)})
    with open_w(os.path.join(out, "docs", "documents.jsonl")) as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def generate(workload, seed, out):
    if workload == "build_daily":
        gen_build(out, seed)
        gen_fleet(out, seed)
    elif workload == "prep_heavy":
        gen_docs(out)
    else:
        raise ValueError("unknown workload: %s" % workload)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <outDir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
