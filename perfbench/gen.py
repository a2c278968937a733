"""Seeded synthetic IMGT/HLA release generator with an expected-answer model.

A replay is a chain of cumulative releases (3500, 3510, ...). The base
release spans several loci of uneven size and comes from its own seed; each
later release adds a small share of new alleles, drawn from the run's seed,
some of which carry feature sequences no earlier allele had. Every release
holds a few malformed records that the parser routes to its error channel.
The same seeds give byte-identical `.dat` files.

`Model` replays the registry's numbering rule (new sequences of one
(locus, term, rank) context are numbered after the context's current
maximum, in sequence order) so the benchmark can check accessions, GFE names,
node counts and every query answer without Spark.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from gfe_db_spark.testing_fixtures import embl_record

# locus -> (share of alleles, exon count); uneven like a real release
LOCI = {
    "HLA-A": (0.24, 8),
    "HLA-B": (0.32, 7),
    "HLA-C": (0.20, 8),
    "HLA-DRB1": (0.14, 6),
    "HLA-DQB1": (0.06, 5),
    "HLA-DPB1": (0.04, 5),
}
FIRST_RELEASE = 3500
TRANSLATION = "MAVMAPRTLLLLLSGALALTQTWAGS"


def release_names(n_releases: int) -> list[str]:
    return [str(FIRST_RELEASE + 10 * i) for i in range(n_releases)]


def feature_order(term: str, rank: int) -> int:
    """Canonical GFE position: 5'UTR, exon 1, intron 1, ..., 3'UTR."""
    if term == "FIVE_PRIME_UTR":
        return 0
    if term == "EXON":
        return 2 * rank - 1
    if term == "INTRON":
        return 2 * rank
    return 1_000_000


def _contexts(n_exons: int) -> list[tuple[str, int]]:
    """(TERM, rank) per feature in genomic order."""
    ctx = [("FIVE_PRIME_UTR", 1)]
    for r in range(1, n_exons + 1):
        ctx.append(("EXON", r))
        if r < n_exons:
            ctx.append(("INTRON", r))
    ctx.append(("THREE_PRIME_UTR", 1))
    return ctx


@dataclass
class Allele:
    allele_id: str
    name: str
    locus: str
    feats: list[tuple[str, int, str]]  # (TERM, rank, sequence), genomic order

    def record(self) -> str:
        raw = []
        for term, rank, seq in self.feats:
            if term in ("EXON", "INTRON"):
                raw.append((term.lower(), rank, seq))
            else:
                raw.append(("UTR", None, seq))
        return embl_record(self.allele_id, self.name, raw, translation=TRANSLATION)


def _malformed(allele_id: str, name: str, kind: int, rng: random.Random) -> str:
    """A record the parser must route to the error channel: a missing SQ
    block or a partial (`<a..b`) feature span."""
    seq = "".join(rng.choice("ACGT") for _ in range(60))
    rec = embl_record(
        allele_id,
        name,
        [("UTR", None, seq[:20]), ("exon", 1, seq[20:50]), ("UTR", None, seq[50:])],
        translation=TRANSLATION,
    )
    if kind == 0:
        return "\n".join(ln for ln in rec.splitlines() if not ln.startswith(("SQ", "     ")))
    return rec.replace("FT   exon            21..50", "FT   exon            <21..50", 1)


@dataclass
class ReleaseSet:
    """The generated replay: per release, its valid alleles and the text of
    its `.dat` file."""

    releases: list[str]
    alleles: list[list[Allele]]
    texts: list[str] = field(repr=False)

    def write(self, data_dir: str, i: int) -> int:
        """Write release i's `hla.<release>.dat`; returns its size in bytes."""
        os.makedirs(data_dir, exist_ok=True)
        data = self.texts[i].encode()
        with open(os.path.join(data_dir, f"hla.{self.releases[i]}.dat"), "wb") as fh:
            fh.write(data)
        return len(data)


def generate(
    base_seed: int,
    seed: int,
    base_alleles: int,
    n_releases: int,
    growth: float = 0.02,
    new_feature_rate: float = 0.3,
    malformed_per_release: int = 3,
) -> ReleaseSet:
    """Cumulative releases: release 0 (from `base_seed`) holds
    `base_alleles`; release i > 0 (from `seed`) holds every allele of
    release i-1 plus `growth` × base new alleles, each carrying a never-seen
    variant of one feature with probability `new_feature_rate`."""
    rng = random.Random(base_seed)
    contexts = {locus: _contexts(n_ex) for locus, (_w, n_ex) in LOCI.items()}
    lengths = {
        (locus, term, rank): rng.randint(24, 72) if term == "EXON" else rng.randint(40, 110)
        for locus, ctx in contexts.items()
        for term, rank in ctx
    }
    pools: dict[tuple[str, str, int], list[str]] = {}
    for (locus, term, rank), ln in lengths.items():
        share = LOCI[locus][0]
        size = 2 + int(base_alleles * share / (12 if term == "EXON" else 40))
        seqs: set[str] = set()
        while len(seqs) < size:
            seqs.add("".join(rng.choice("ACGT") for _ in range(ln)))
        pools[(locus, term, rank)] = sorted(seqs)
        rng.shuffle(pools[(locus, term, rank)])

    counters = {locus: 0 for locus in LOCI}
    next_id = [0]

    def new_allele(locus: str, variant: bool) -> Allele:
        feats = []
        for term, rank in contexts[locus]:
            pool = pools[(locus, term, rank)]
            # skewed pick: a few common sequences shared by many alleles
            feats.append((term, rank, pool[int(len(pool) * rng.random() ** 2)]))
        if variant:
            i = rng.randrange(len(feats))
            term, rank, seq = feats[i]
            pool = pools[(locus, term, rank)]
            while seq in pool:
                j = rng.randrange(len(seq))
                seq = seq[:j] + rng.choice("ACGT".replace(seq[j], "")) + seq[j + 1 :]
            pool.append(seq)
            feats[i] = (term, rank, seq)
        n = counters[locus]
        counters[locus] += 1
        next_id[0] += 1
        return Allele(
            f"HLA{next_id[0]:05d}", f"{locus}*{n // 100 + 1:02d}:{n % 100:02d}", locus, feats
        )

    loci = list(LOCI)
    weights = [LOCI[locus][0] for locus in loci]

    def draw(k: int, variant_rate: float) -> list[Allele]:
        return [
            new_allele(rng.choices(loci, weights)[0], rng.random() < variant_rate)
            for _ in range(k)
        ]

    releases = release_names(n_releases)
    per_release: list[list[Allele]] = []
    texts: list[str] = []
    current: list[Allele] = []
    n_bad = 0
    for i, _release in enumerate(releases):
        if i == 0:
            current = draw(base_alleles, 0.0)
        else:
            if i == 1:
                rng = random.Random(seed)  # the closures above read this binding
            current = current + draw(max(1, round(base_alleles * growth)), new_feature_rate)
        per_release.append(list(current))
        recs = [a.record() for a in current]
        for k in range(malformed_per_release):
            n_bad += 1
            recs.insert(
                rng.randrange(len(recs) + 1),
                _malformed(f"HLA9{n_bad:04d}", f"HLA-A*99:{n_bad:02d}", k % 2, rng),
            )
        texts.append("".join(f"{r}\n//\n" for r in recs))
    return ReleaseSet(releases, per_release, texts)


class Model:
    """Expected state of the registry and graph after each committed
    release, built from the generated alleles alone."""

    def __init__(self) -> None:
        # (locus, TERM, rank) -> {sequence: accession}
        self.registry: dict[tuple[str, str, int], dict[str, int]] = {}
        self.alleles: dict[str, Allele] = {}
        self.gfe: dict[str, str] = {}  # allele name -> GFE name
        self.allele_releases: dict[str, list[int]] = {}

    def commit(self, release: str, alleles: list[Allele]) -> None:
        fresh: dict[tuple[str, str, int], set[str]] = {}
        for a in alleles:
            for term, rank, seq in a.feats:
                ctx = (a.locus, term, rank)
                if seq not in self.registry.get(ctx, {}):
                    fresh.setdefault(ctx, set()).add(seq)
        for ctx, seqs in fresh.items():
            known = self.registry.setdefault(ctx, {})
            top = max(known.values(), default=0)
            for i, seq in enumerate(sorted(seqs), start=1):
                known[seq] = top + i
        for a in alleles:
            self.alleles[a.name] = a
            order = sorted(
                (feature_order(term, rank), self.registry[(a.locus, term, rank)][seq])
                for term, rank, seq in a.feats
            )
            self.gfe[a.name] = a.locus + "w" + "-".join(str(acc) for _p, acc in order)
            self.allele_releases.setdefault(a.name, []).append(int(release))

    def copy(self) -> "Model":
        out = Model()
        out.registry = {ctx: dict(seqs) for ctx, seqs in self.registry.items()}
        out.alleles = dict(self.alleles)
        out.gfe = dict(self.gfe)
        out.allele_releases = {k: list(v) for k, v in self.allele_releases.items()}
        return out

    def accession(self, allele: Allele, i: int) -> int:
        term, rank, seq = allele.feats[i]
        return self.registry[(allele.locus, term, rank)][seq]

    def node_counts(self) -> dict[str, int]:
        gfes = set(self.gfe.values())
        return {
            "Feature": sum(len(v) for v in self.registry.values()),
            "GFE": len(gfes),
            "IPD_Accession": len({a.allele_id for a in self.alleles.values()}),
            "IPD_Allele": len(self.alleles),
            "Sequence": len(gfes),
            "Submitter": 1,
        }

    def release_histogram(self) -> list[tuple[int, int]]:
        hist: dict[int, int] = {}
        for releases in self.allele_releases.values():
            for r in set(releases):
                hist[r] = hist.get(r, 0) + 1
        return sorted(hist.items())

    def features_of(self, name: str) -> list[tuple[str, int, int]]:
        """(TERM, rank, accession) of one allele, sorted."""
        a = self.alleles[name]
        return sorted((t, r, self.accession(a, i)) for i, (t, r, _s) in enumerate(a.feats))

    def alleles_with(self, locus: str, term: str, rank: int, accession: int) -> list[str]:
        out = []
        for name, a in self.alleles.items():
            if a.locus != locus:
                continue
            for i, (t, r, _s) in enumerate(a.feats):
                if (t, r) == (term, rank) and self.accession(a, i) == accession:
                    out.append(name)
        return sorted(out)
