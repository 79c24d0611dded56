"""Independent Python reimplementations of the graft library's own kernels.

Used by gen_kernel_goldens.py to produce golden-parquet oracles for the
operators that have no SQL expression and no counterpart in the reference
(language-ID, winnowing, MinHash/SimHash pipelines, ANN, page synthesis,
HTML extraction). Everything here was written from the operator CONTRACTS
(SURVEY.md / scaladoc) with exact 64-bit / IEEE-754 semantics so outputs are
bit-identical when the Scala code is correct — a true differential oracle,
not a transcription of Spark output.
"""
import hashlib
import math
import re

M64 = (1 << 64) - 1
GOLDEN = 0x9E3779B97F4A7C15


def u64(x):
    return x & M64


def s64(x):
    x &= M64
    return x - (1 << 64) if x >= (1 << 63) else x


def mix(z0):
    z = u64(z0 + GOLDEN)
    z = u64((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9)
    z = u64((z ^ (z >> 27)) * 0x94D049BB133111EB)
    return u64(z ^ (z >> 31))


class Rng:
    """SplitMix64 — graft.pipeline.PageGen.Rng."""

    def __init__(self, seed):
        self.state = u64(seed)

    def next_long(self):
        self.state = u64(self.state + GOLDEN)
        z = self.state
        z = u64((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9)
        z = u64((z ^ (z >> 27)) * 0x94D049BB133111EB)
        return u64(z ^ (z >> 31))

    def next_double(self):
        return (self.next_long() >> 11) * 1.1102230246251565e-16

    def next_int(self, bound):
        return (self.next_long() >> 33) % bound


def string_hash64(s):
    h = 1125899906842597
    for c in s:
        h = u64(31 * h + ord(c))
    return mix(h)


# ---------------- PageGen ----------------

SUBS = {"l": "1", "o": "0", "e": "c", "a": "o", "i": "l",
        "u": "v", "s": "5", "m": "rn", "w": "vv", "t": "+"}
INSERT_ALPHABET = "abcdefghijklmnopqrstuvwxyz"


def noisy_render(text, seed):
    rng = Rng(u64(seed) ^ 0x5EED5EED)
    out = []
    i = 0
    n = len(text)
    while i < n:
        c = text[i]
        if c == "f" and i + 1 < n and text[i + 1] in "il" and rng.next_double() < 0.25:
            out.append("ﬁ" if text[i + 1] == "i" else "ﬂ")
            i += 2
        else:
            r = rng.next_double()
            if r < 0.06 and c in SUBS:
                out.append(SUBS[c])
            elif r < 0.08 and c != " ":
                pass  # delete
            elif r < 0.10:
                out.append(c)
                out.append(INSERT_ALPHABET[rng.next_int(26)])
            elif r < 0.11:
                out.append(c)
                out.append("~")
            else:
                out.append(c)
            i += 1
    return "".join(out)


def escape_html(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_html(noisy, url, seed):
    rng = Rng(u64(seed) ^ 0xB01123A7E)
    nav_variant = rng.next_int(3)
    if nav_variant == 0:
        nav = '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
    elif nav_variant == 1:
        nav = "<nav><ul><li>Index</li><li>Archive</li></ul></nav>"
    else:
        nav = "<header><h1>Site</h1></header>"
    trk = rng.next_int(100000)
    margin = rng.next_int(20)
    # NOTE: the crawl number is interpolated AFTER the noisy body in the
    # Scala template, so it is drawn after margin
    body = escape_html(noisy)
    crawl = rng.next_int(9999)
    return (
        "<!DOCTYPE html><html><head><title>doc</title>\n"
        f'<script>var trk = {trk}; function f(){{return "<div>";}}</script>\n'
        f"<style>.m{{margin:{margin}px}} .c{{color:#abc}}</style>\n"
        '<meta charset="utf-8"/></head><body>\n'
        f"{nav}\n"
        f'<div class="main" id="content"><p>{body}</p></div>\n'
        f'<aside>Related: <a href="{url}?ref=1">link</a></aside>\n'
        f"<footer>&copy; 2026 example.org &middot; crawl {crawl}</footer>\n"
        "</body></html>"
    )


def url_for(doc_id):
    return "https://example.org/doc/%08d" % doc_id


# ---------------- ExtractHtml ----------------

COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
DROP_SUBTREE_RE = re.compile(
    r"<(script|style|head|nav|footer|header|aside|noscript|template|svg|form)\b[^>]*>.*?</\1\s*>",
    re.I | re.S)
TAG_RE = re.compile(r"<[^>]*>", re.S)
ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z]+);")
NAMED_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"',
                  "apos": "'", "nbsp": " ", "copy": "©", "shy": ""}
LIGATURES = {"ﬀ": "ff", "ﬁ": "fi", "ﬂ": "fl",
             "ﬃ": "ffi", "ﬄ": "ffl", "ﬅ": "st", "ﬆ": "st"}


def decode_entities(s):
    def rep(m):
        body = m.group(1)
        if body.startswith("#x") or body.startswith("#X"):
            try:
                return chr(int(body[2:], 16))
            except Exception:
                return m.group()
        if body.startswith("#"):
            try:
                return chr(int(body[1:]))
            except Exception:
                return m.group()
        return NAMED_ENTITIES.get(body, m.group())

    return ENTITY_RE.sub(rep, s)


def extract_text(html):
    t = COMMENT_RE.sub(" ", html)
    prev = None
    while prev != t:
        prev = t
        t = DROP_SUBTREE_RE.sub(" ", t)
    t = TAG_RE.sub(" ", t)
    t = decode_entities(t)
    t = "".join(LIGATURES.get(c, c) for c in t)
    t = t.replace("~", "")
    t = re.sub(r"\s+", " ", t)
    return t.strip()


# ---------------- TextOps ----------------

STOPWORDS = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "it", "that", "for", "on", "with", "as", "at", "this"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "una", "es", "los", "las", "por", "con", "para", "del"},
    "de": {"der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "auf", "für", "im", "nicht"},
    "fr": {"le", "la", "les", "de", "des", "et", "un", "une", "est", "en", "du", "que", "pour", "dans", "sur"},
    "it": {"il", "di", "che", "la", "e", "non", "un", "per", "in", "sono", "le", "dei", "del", "si", "con"},
    "pt": {"de", "o", "que", "e", "do", "da", "em", "um", "para", "com", "não", "uma", "os", "no", "se"},
    "nl": {"de", "het", "een", "en", "van", "ik", "te", "dat", "die", "niet", "op", "aan", "met", "zijn", "voor"},
    "ru": {"и", "в", "не", "на", "я", "что", "он", "с", "как", "это", "по", "но", "они", "мы", "за"},
    "zh": {"的", "了", "是", "在", "我", "有", "和", "就",
           "不", "人", "都", "一", "这", "他", "们"},
}


def lang_id(text):
    if not text:
        return "und"
    cjk = sum(1 for c in text if 0x4E00 <= ord(c) <= 0x9FFF)
    cyr = sum(1 for c in text if 0x0400 <= ord(c) <= 0x04FF)
    tokens = [t for t in text.lower().split(" ") if t]
    scores = {}
    for lang, sw in STOPWORDS.items():
        base = sum(1 for t in tokens if t in sw)
        bonus = cjk if lang == "zh" else (cyr if lang == "ru" else 0)
        scores[lang] = base + bonus
    best = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    return best[0] if best[1] > 0 else "und"


def kgram_hashes(text, k):
    n = len(text) - k + 1
    B = 1000003
    pw = 1
    h = 0
    for i in range(k):
        h = u64(h * B + ord(text[i]))
        if i < k - 1:
            pw = u64(pw * B)
    hashes = [mix(h)]
    for i in range(1, n):
        h = u64(u64(h - u64(ord(text[i - 1]) * pw)) * B + ord(text[i + k - 1]))
        hashes.append(mix(h))
    return hashes


def winnowed_minima(text, k=8, w=16):
    if text is None or len(text) < k:
        return []
    hashes = kgram_hashes(text, k)
    signed = [s64(h) for h in hashes]
    n = len(hashes)
    out = []
    last_pos = -1
    windows = max(1, n - w + 1)
    for s in range(windows):
        end = min(s + w, n)
        min_pos = s
        for j in range(s + 1, end):
            if signed[j] <= signed[min_pos]:
                min_pos = j  # rightmost min
        if min_pos != last_pos:
            out.append(hashes[min_pos])
            last_pos = min_pos
    return out


def winnow_similarity(a, b, k=8, w=16):
    sa = set(winnowed_minima(a, k, w))
    sb = set(winnowed_minima(b, k, w))
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def fingerprint(text, k=8, w=16):
    acc = 0x2545F4914F6CDD1D
    for mn in winnowed_minima(text, k, w):
        acc = mix(acc ^ mn)
    return s64(acc)


# ---------------- Dedup ----------------

def shingles(text, n=3):
    toks = [t for t in text.split(" ") if t]
    if len(toks) < n:
        return [] if not toks else [" ".join(toks)]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def jaccard(a, b, n=3):
    sa, sb = set(shingles(a, n)), set(shingles(b, n))
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def minhash_signature(text, num_perm, shingle_n):
    sig = [(1 << 63) - 1] * num_perm  # Long.MaxValue, signed compare
    for sh in shingles(text, shingle_n):
        base = string_hash64(sh)
        for p in range(num_perm):
            h = s64(mix(base ^ u64(GOLDEN * (p + 1))))
            if h < sig[p]:
                sig[p] = h
    return sig


def minhash_band_keys(sig, bands, rows_per_band):
    keys = []
    for b in range(bands):
        h = 1125899906842597 ^ b
        for r in range(rows_per_band):
            h = mix(u64(h) ^ u64(sig[b * rows_per_band + r]))
        keys.append(h)
    return keys


def simhash(text):
    counts = [0] * 64
    for tok in text.split(" "):
        if not tok:
            continue
        h = string_hash64(tok)
        for b in range(64):
            if (h >> b) & 1:
                counts[b] += 1
            else:
                counts[b] -= 1
    out = 0
    for b in range(64):
        if counts[b] > 0:
            out |= 1 << b
    return out  # unsigned representation


def bucket_pairs(member_lists, max_bucket_size=1000):
    """Count-first capped pairing: buckets of size in (1, cap] yield all
    a<b pairs (by id); dedup across buckets."""
    pairs = set()
    for members in member_lists:
        if 1 < len(members) <= max_bucket_size:
            ms = sorted(members)
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    pairs.add((ms[i], ms[j]))
    return pairs


# ---------------- Similarity ----------------

def hyperplanes(n_bits, dim, seed):
    planes = []
    for b in range(n_bits):
        rng = Rng(u64(seed) ^ mix(b + 1))
        planes.append([rng.next_double() * 2.0 - 1.0 for _ in range(dim)])
    return planes


def sign_bits(vec, planes):
    sig = 0
    for b, p in enumerate(planes):
        dot = 0.0
        for i in range(min(len(vec), len(p))):
            dot += float(vec[i]) * p[i]
        if dot >= 0:
            sig |= 1 << b
    return sig


def cosine(a, b):
    dot = na = nb = 0.0
    for i in range(min(len(a), len(b))):
        x, y = float(a[i]), float(b[i])
        dot += x * y
        na += x * x
        nb += y * y
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (math.sqrt(na) * math.sqrt(nb))


def quantize_i8(v):
    """Symmetric per-vector int8: round(127*x/max|x|), half-up like Java's
    Math.round (floor(x+0.5)), NOT Python's banker's rounding."""
    mx = 0.0
    for x in v:
        a = abs(float(x))
        if a > mx:
            mx = a
    if mx == 0.0:
        return [0] * len(v)
    s = 127.0 / mx
    return [int(math.floor(float(x) * s + 0.5)) for x in v]


def cosine_i8(a, b):
    dot = na = nb = 0
    for i in range(min(len(a), len(b))):
        dot += a[i] * b[i]
        na += a[i] * a[i]
        nb += b[i] * b[i]
    if na == 0 or nb == 0:
        return 0.0
    return dot / (math.sqrt(float(na)) * math.sqrt(float(nb)))


def kmeans(sample, k, iters, seed):
    assert sample, "empty k-means sample"
    dim = len(sample[0])
    rng = Rng(seed)
    idx = list(range(len(sample)))
    i0 = len(sample) - 1
    while i0 > 0:
        j0 = rng.next_int(i0 + 1)
        idx[i0], idx[j0] = idx[j0], idx[i0]
        i0 -= 1
    k_eff = min(k, len(sample))
    centroids = [[float(x) for x in sample[idx[c]]] for c in range(k_eff)]

    def dist2(v, c):
        d = 0.0
        for i in range(dim):
            t = float(v[i]) - c[i]
            d += t * t
        return d

    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(len(centroids))]
        counts = [0] * len(centroids)
        for v in sample:
            best, bd = 0, dist2(v, centroids[0])
            for c in range(1, len(centroids)):
                d = dist2(v, centroids[c])
                if d < bd:
                    bd, best = d, c
            counts[best] += 1
            for i in range(dim):
                sums[best][i] += float(v[i])
        for c in range(len(centroids)):
            if counts[c] > 0:
                for i in range(dim):
                    centroids[c][i] = sums[c][i] / counts[c]
    return centroids


def nearest_lists(v, centroids, n_probe):
    dists = []
    for c in range(len(centroids)):
        d = 0.0
        for i in range(min(len(v), len(centroids[c]))):
            t = float(v[i]) - centroids[c][i]
            d += t * t
        dists.append((d, c))
    dists.sort()
    return [c for _, c in dists[:n_probe]]


def topk_rank(query_scores, k):
    """row_number() over (order by score desc, vec_id asc), take k."""
    ranked = sorted(query_scores, key=lambda t: (-t[1], t[0]))
    return [(rank + 1, vid, score) for rank, (vid, score) in enumerate(ranked[:k])]


# ---------------- BBox / eval ----------------

def intersect_area(a, b):
    """a, b = (ulx, uly, lrx, lry)."""
    dx = min(a[2], b[2]) - max(a[0], b[0])
    dy = min(a[3], b[3]) - max(a[1], b[1])
    return dx * dy if dx > 0 and dy > 0 else 0


def iou(a, b):
    n_ulx, n_uly = max(a[0], b[0]), max(a[1], b[1])
    n_lrx, n_lry = min(a[2], b[2]), min(a[3], b[3])
    area_int = (n_lrx - n_ulx) * (n_lry - n_uly)
    area1 = (a[2] - a[0]) * (a[3] - a[1])
    area2 = (b[2] - b[0]) * (b[3] - b[1])
    return area_int / (area1 + area2 - area_int)


def range_iou(a, b):
    inter = max(0, min(a[2], b[2]) - max(a[0], b[0]))
    l1 = max(0, a[2] - a[0])
    l2 = max(0, b[2] - b[0])
    union = l1 + l2 - inter
    return 0.0 if union <= 0 else inter / union


def collapse_gt(gt_spans):
    """Reference dict quirk: last span per syllable text wins; first-occurrence
    key order. gt_spans = [(seq, syl, ulx, uly, lrx, lry)]."""
    by_text = {}
    for sp in gt_spans:
        by_text[sp[1]] = sp  # dict preserves insertion order of first put
    return list(by_text.values())


def evaluate_per_span(gt_spans, pred_spans):
    """graft.pipeline.EvalJob.scoreDoc for ONE document.
    Returns [(gt_seq, iou, range_iou)] for the collapsed GT spans."""
    out = []
    for g in collapse_gt(gt_spans):
        gbox = (g[2], g[3], g[4], g[5])
        cands = [p for p in pred_spans if g[1] in p[1] or p[1] in g[1]]
        if not cands:
            out.append((g[0], 0.0, 0.0))
            continue
        scored = sorted(((-intersect_area(gbox, (p[2], p[3], p[4], p[5])), p[0], p) for p in cands))
        inter = -scored[0][0]
        best = scored[0][2]
        if inter > 0:
            bbox = (best[2], best[3], best[4], best[5])
            out.append((g[0], iou(gbox, bbox), range_iou(gbox, bbox)))
        else:
            out.append((g[0], 0.0, 0.0))
    return out


def evaluate_means(gt_spans, pred_spans):
    """(mean_iou, mean_range_iou, n) with the sorted-gt_seq fold order."""
    per = sorted(evaluate_per_span(gt_spans, pred_spans))
    n = len(per)
    si = 0.0
    sr = 0.0
    for _, i_, r_ in per:
        si += i_
        sr += r_
    return si / n, sr / n, n


# ---------------- parse_transcript (documented-intent port) ----------------

def parse_transcript(lines, syllabify_word):
    kept = [l for l in lines if not l.startswith("#")]
    sb = []
    for line in kept:
        l = line.lower().replace("|", "").replace(".", "").strip(" \t\n\r")
        words = ["-".join(syllabify_word(w)) for w in l.split(" ")]
        sb.append(" ".join(words))
        sb.append(" ")
    text = "".join(sb).strip()
    text = text.replace(" ", "- ")
    toks = [t for t in text.split("-") if t and not t.isspace()]
    syls, flags = [], []
    for t in toks:
        if t.startswith(" "):
            syls.append(t[1:])
            flags.append(1)
        else:
            syls.append(t)
            flags.append(0)
    return syls, flags


def top_ngram_char_fraction(text, n):
    """Mirror of TextOps.topNgramCharFraction (Gopher repetition signal)."""
    if not text:
        return 0.0
    toks = [t for t in text.split(" ") if t]
    if len(toks) < n:
        return 0.0
    counts = {}
    for i in range(len(toks) - n + 1):
        g = " ".join(toks[i:i + n])
        counts[g] = counts.get(g, 0) + 1
    best_g, best_c = None, 0
    for g, c in counts.items():
        if c > best_c or (c == best_c and (best_g is None or g < best_g)):
            best_g, best_c = g, c
    if best_c <= 1:
        return 0.0
    return (best_c * len(best_g)) / len(text)


def reflow_for_repetition(text):
    """Mirror of graft.catalog.TextQueries.reflowForRepetition (repetition fixture synth):
    6-token lines, 3-line paragraphs, every 4th line repeats its
    predecessor, every 5th paragraph repeats its predecessor."""
    toks = [t for t in text.split(" ") if t]
    lines0 = [" ".join(toks[i:i + 6]) for i in range(0, len(toks), 6)]
    lines = [lines0[i - 1] if i % 4 == 3 else l for i, l in enumerate(lines0)]
    paras0 = ["\n".join(lines[i:i + 3]) for i in range(0, len(lines), 3)]
    paras = [paras0[i - 1] if i % 5 == 4 else p for i, p in enumerate(paras0)]
    return "\n\n".join(paras)


def _dup_unit_char_fraction(units):
    """Mirror of TextOps.dupUnitCharFraction: trimmed non-empty units; all
    occurrences of a unit appearing >=2 times count as duplicated chars;
    denominator is total kept-unit chars."""
    kept = [u.strip() for u in units]
    kept = [u for u in kept if u]
    if not kept:
        return 0.0
    counts = {}
    for u in kept:
        counts[u] = counts.get(u, 0) + 1
    total = dup = 0
    for u, c in counts.items():
        chars = len(u) * c
        total += chars
        if c >= 2:
            dup += chars
    return dup / total if total else 0.0


def dup_line_char_fraction(text):
    return _dup_unit_char_fraction((text or "").split("\n"))


def dup_para_char_fraction(text):
    return _dup_unit_char_fraction(re.split(r"\n{2,}", text or ""))


# ---------------- Multimodal stub ----------------

def media_kind(doc_id):
    m = doc_id % 3
    return "image" if m == 0 else ("audio" if m == 1 else "video")


def sample_frame_count(kind, n_bytes):
    if kind == "video":
        return max(1, n_bytes // 4096)
    if kind == "audio":
        return max(1, n_bytes // 8192)
    return 1


# ---------------- MainContent (density-based, jusText-simplified) ----------
# Clean-room mirror of graft/align/MainContent.scala: block segmentation on
# block-level tags, link/stopword densities, ordered integer-rational rules.

MC_DROP_RE = re.compile(
    r"<(script|style|head|noscript|template|svg)\b[^>]*>.*?</\1\s*>",
    re.I | re.S)
MC_BLOCK_RE = re.compile(
    r"</?(p|div|td|th|li|ul|ol|h[1-6]|blockquote|pre|table|tr|section|"
    r"article|nav|footer|header|aside|form|br|hr)\b[^>]*>", re.I)
MC_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
MC_WS_RE = re.compile(r"\s+")

MC_STOPWORDS = {
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "at", "by",
    "for", "with", "from", "as", "is", "are", "was", "were", "be", "been",
    "it", "this", "that", "these", "those", "we", "you", "your", "they",
    "their", "have", "has", "had", "not", "but", "all"}


def mc_norm_word(w):
    lw = w.lower()
    i, j = 0, len(lw)
    while i < j and not ("a" <= lw[i] <= "z"):
        i += 1
    while j > i and not ("a" <= lw[j - 1] <= "z"):
        j -= 1
    return lw[i:j]


def mc_norm_text(s):
    return MC_WS_RE.sub(" ", decode_entities(s)).strip()


def mc_blocks(html):
    t = COMMENT_RE.sub(" ", html)
    prev = None
    while prev != t:
        prev = t
        t = MC_DROP_RE.sub(" ", t)
    out = []
    for seg in MC_BLOCK_RE.sub("\x00", t).split("\x00"):
        text = mc_norm_text(TAG_RE.sub(" ", seg))
        if not text:
            continue
        link = 0
        for m in MC_ANCHOR_RE.finditer(seg):
            link += len(mc_norm_text(TAG_RE.sub(" ", m.group(1))))
        words = [w for w in text.split(" ") if w]
        stops = sum(1 for w in words if mc_norm_word(w) in MC_STOPWORDS)
        out.append((text, link, len(words), stops))
    return out


def mc_is_content(text, link, words, stops):
    total = len(text)
    if link > 0 and 5 * link >= total:
        return False  # r1 link-dense kill
    if total >= 40:
        return True   # r2 long keep
    if total >= 20 and 10 * stops >= 3 * words:
        return True   # r3 stopword rescue
    return False      # r4 default kill


def mc_extract(html):
    bs = mc_blocks(html)
    kept = [b for b in bs if mc_is_content(*b)]
    return ("\n".join(b[0] for b in kept), len(bs), len(kept),
            sum(len(b[0]) for b in bs if not mc_is_content(*b)))


def boilerplate_html(doc_id, text):
    """Mirror of graft.catalog.IngestQueries.boilerplateHtml — the main-content fixture."""
    toks = [w for w in (text or "").split(" ") if w]
    paras = [" ".join(toks[i:i + 12]) for i in range(0, len(toks), 12)]
    parts = [
        "<!DOCTYPE html><html><head><title>d%d</title>"
        "<script>var t=1;</script><style>.x{color:red}</style></head><body>"
        % doc_id,
        '<div class="menu"><a href="/">Home</a> <a href="/archive">'
        "Archive</a> <a href=\"/tags\">Tags</a></div>"]
    if doc_id % 3 == 0:
        parts.append(
            '<div class="related"><a href="/r1">related %s</a> '
            '<a href="/r2">more links here</a></div>'
            % (paras[0] if paras else ""))
    parts.append('<div id="content">')
    for p in paras:
        parts.append("<p>%s</p>" % p)
    parts.append("</div>")
    if doc_id % 4 == 0:
        parts.append('<div class="note">a note to all of the readers '
                     "&amp; friends</div>")
    if doc_id % 5 == 0:
        parts.append('<div class="cookie">Accept cookies</div>')
    parts.append("<footer>&copy; 2026 example.org</footer></body></html>")
    return "".join(parts)


# ---------------- Markdown conversion + table extraction -------------------
# Clean-room mirror of graft/align/Markdown.scala (pinned rendering spec in
# that file's scaladoc): tokenizer + recursive block/inline renderers.

# pinned ASCII whitespace classes, never \s (python \s is Unicode, Java's
# is not — the engines would diverge on U+00A0 inside tags)
MDX_DROP_RE = re.compile(
    r"<(script|style|head|noscript|template|svg)\b[^>]*>.*?</\1[ \t\n\r\f]*>",
    re.I | re.S)
MDX_HREF_RE = re.compile(
    r"\bhref[ \t\n\r\f]*=[ \t\n\r\f]*(\"([^\"]*)\"|'([^']*)')", re.I | re.S)
MDX_NAME_RE = re.compile(r"(/?)([a-zA-Z][a-zA-Z0-9]*)")
MDX_WS_RE = re.compile(r"[ \t\n\r\f]+")
MDX_BLOCK_CONTAINERS = {"p", "div", "section", "article", "header", "footer",
                        "nav", "aside", "main", "figure", "figcaption"}
MDX_INLINE_WRAP = {"b": "**", "strong": "**", "i": "*", "em": "*",
                   "code": "`"}


def mdx_tokenize(html):
    """→ list of ('t', text) | ('o'/'c', name, href)."""
    t = COMMENT_RE.sub(" ", html)
    prev = None
    while prev != t:
        prev = t
        t = MDX_DROP_RE.sub(" ", t)
    toks, i, n = [], 0, len(t)
    while i < n:
        lt = t.find("<", i)
        if lt < 0:
            toks.append(("t", decode_entities(t[i:])))
            break
        if lt > i:
            toks.append(("t", decode_entities(t[i:lt])))
        gt = t.find(">", lt + 1)
        if gt < 0:
            toks.append(("t", decode_entities(t[lt:])))
            break
        body = t[lt + 1:gt]
        m = MDX_NAME_RE.match(body)
        if m:
            name = m.group(2).lower()
            href = None
            if name == "a" and not m.group(1):
                hm = MDX_HREF_RE.search(body)
                if hm:
                    href = decode_entities(
                        hm.group(2) if hm.group(2) is not None else hm.group(3))
            toks.append(("c" if m.group(1) else "o", name, href))
        i = gt + 1
    return toks


def mdx_ws(s):
    # strip set pinned to the run regex's five ASCII chars — str.strip()
    # with no args strips U+00A0 etc., which the Scala side must not
    return MDX_WS_RE.sub(" ", s).strip(" \t\n\r\f")


MDX_MAX_NEST = 100  # pinned nesting cap — past it structural tags are
                    # transparent (adversarial crawl bytes would otherwise
                    # exhaust either engine's stack)


def mdx_match_index(toks):
    """One-pass per-name LIFO close matching (mirrors Markdown.matchIndex):
    idx[i] = index of the close pairing the open at i, or -1."""
    idx = [-1] * len(toks)
    stacks = {}
    for i, tk in enumerate(toks):
        if tk[0] == "o":
            stacks.setdefault(tk[1], []).append(i)
        elif tk[0] == "c":
            st = stacks.get(tk[1])
            if st:
                idx[st.pop()] = i
    return idx


def mdx_close(toks, mi, i):
    """(contentEnd, nextIndex) for the open token at i, via the index."""
    m = mi[i]
    return (m, m + 1) if m >= 0 else (len(toks), len(toks))


def mdx_inline(toks, mi, i, end, depth):
    parts = []
    while i < end:
        tk = toks[i]
        if tk[0] == "t":
            parts.append(tk[1])
            i += 1
        elif tk[0] == "o" and tk[1] == "br":
            parts.append(" ")
            i += 1
        elif tk[0] == "o" and depth < MDX_MAX_NEST and tk[1] == "a":
            ce, ni = mdx_close(toks, mi, i)
            inner = mdx_ws(mdx_inline(toks, mi, i + 1, min(ce, end), depth + 1))
            if inner:
                if tk[2]:
                    parts.append("[%s](%s) " % (inner, tk[2]))
                else:
                    parts.append(inner + " ")
            i = min(ni, end)
        elif tk[0] == "o" and depth < MDX_MAX_NEST and tk[1] in MDX_INLINE_WRAP:
            w = MDX_INLINE_WRAP[tk[1]]
            ce, ni = mdx_close(toks, mi, i)
            inner = mdx_ws(mdx_inline(toks, mi, i + 1, min(ce, end), depth + 1))
            if inner:
                parts.append(w + inner + w + " ")
            i = min(ni, end)
        else:
            i += 1
    return "".join(parts)


def mdx_raw(toks, i, end):
    return "".join(tk[1] for tk in toks[i:end] if tk[0] == "t")


def mdx_list(toks, mi, i, end, ordered, list_depth, depth):
    lines, counter = [], 0
    while i < end:
        tk = toks[i]
        # no depth guard on li itself (iterative; inline self-caps) —
        # only the nested-list recursion below is gated
        if tk[0] == "o" and tk[1] == "li":
            ce, ni = mdx_close(toks, mi, i)
            ce2 = min(ce, end)
            nest = -1
            for j in range(i + 1, ce2):
                if toks[j][0] == "o" and toks[j][1] in ("ul", "ol"):
                    nest = j
                    break
            # past the cap the nested region renders inline (text kept)
            render_nested = nest >= 0 and depth + 1 < MDX_MAX_NEST
            item_end = nest if render_nested else ce2
            counter += 1
            marker = "%d. " % counter if ordered else "- "
            lines.append("  " * list_depth + marker +
                         mdx_ws(mdx_inline(toks, mi, i + 1, item_end,
                                           depth + 1)))
            if render_nested:
                nce, _ = mdx_close(toks, mi, nest)
                lines.extend(mdx_list(toks, mi, nest + 1, min(nce, ce2),
                                      toks[nest][1] == "ol",
                                      list_depth + 1, depth + 2))
            i = min(ni, end)
        else:
            i += 1
    return lines


def mdx_table(toks, mi, i, end, table_idx, depth):
    lines, cells, row_idx = [], [], 0
    while i < end:
        tk = toks[i]
        # no depth guard on tr/cells (iterative; inline self-caps)
        if tk[0] == "o" and tk[1] == "tr":
            ce, ni = mdx_close(toks, mi, i)
            ce2 = min(ce, end)
            j, row = i + 1, []
            while j < ce2:
                t2 = toks[j]
                if t2[0] == "o" and t2[1] in ("td", "th"):
                    cce, cni = mdx_close(toks, mi, j)
                    row.append((t2[1] == "th",
                                mdx_ws(mdx_inline(toks, mi, j + 1,
                                                  min(cce, ce2), depth + 1))))
                    j = min(cni, ce2)
                else:
                    j += 1
            if row:
                lines.append("| " + " | ".join(
                    c[1].replace("|", "\\|") for c in row) + " |")
                if row_idx == 0 and all(c[0] for c in row):
                    lines.append("| " + " | ".join("---" for _ in row) + " |")
                for c, (hdr, txt) in enumerate(row):
                    cells.append((table_idx, row_idx, c, hdr, txt))
                row_idx += 1
            i = min(ni, end)
        else:
            i += 1
    return lines, cells


def mdx_quote(block, quote):
    if not quote:
        return block
    return "\n".join("> " * quote + l for l in block.split("\n"))


def mdx_blocks(toks, mi, i, end, quote, tables, counter, depth):
    blocks, buf = [], []

    def flush():
        s = mdx_ws("".join(buf))
        del buf[:]
        if s:
            blocks.append(mdx_quote(s, quote))

    structural = depth < MDX_MAX_NEST
    while i < end:
        tk = toks[i]
        if tk[0] == "t":
            buf.append(tk[1])
            i += 1
        elif tk[0] == "o" and structural and len(tk[1]) == 2 \
                and tk[1][0] == "h" and "1" <= tk[1][1] <= "6":
            flush()
            ce, ni = mdx_close(toks, mi, i)
            inner = mdx_ws(mdx_inline(toks, mi, i + 1, min(ce, end), depth + 1))
            if inner:
                blocks.append(mdx_quote("#" * int(tk[1][1]) + " " + inner, quote))
            i = min(ni, end)
        elif tk[0] == "o" and structural and tk[1] in MDX_BLOCK_CONTAINERS:
            flush()
            ce, ni = mdx_close(toks, mi, i)
            blocks.extend(mdx_blocks(toks, mi, i + 1, min(ce, end), quote,
                                     tables, counter, depth + 1))
            i = min(ni, end)
        elif tk[0] == "o" and structural and tk[1] == "blockquote":
            flush()
            ce, ni = mdx_close(toks, mi, i)
            blocks.extend(mdx_blocks(toks, mi, i + 1, min(ce, end), quote + 1,
                                     tables, counter, depth + 1))
            i = min(ni, end)
        elif tk[0] == "o" and structural and tk[1] in ("ul", "ol"):
            flush()
            ce, ni = mdx_close(toks, mi, i)
            lines = mdx_list(toks, mi, i + 1, min(ce, end), tk[1] == "ol",
                             0, depth + 1)
            if lines:
                blocks.append(mdx_quote("\n".join(lines), quote))
            i = min(ni, end)
        elif tk[0] == "o" and structural and tk[1] == "pre":
            flush()
            ce, ni = mdx_close(toks, mi, i)
            raw = mdx_raw(toks, i + 1, min(ce, end)).strip("\n\r")
            blocks.append(mdx_quote("```\n" + raw + "\n```", quote))
            i = min(ni, end)
        elif tk[0] == "o" and structural and tk[1] == "table":
            flush()
            ce, ni = mdx_close(toks, mi, i)
            idx = counter[0]
            counter[0] += 1
            lines, cells = mdx_table(toks, mi, i + 1, min(ce, end), idx,
                                     depth + 1)
            tables.extend(cells)
            if lines:
                blocks.append(mdx_quote("\n".join(lines), quote))
            i = min(ni, end)
        elif tk[0] == "o" and tk[1] == "hr":
            flush()
            blocks.append(mdx_quote("---", quote))
            i += 1
        elif tk[0] == "o" and tk[1] == "br":
            buf.append(" ")
            i += 1
        elif tk[0] == "o" and structural \
                and (tk[1] == "a" or tk[1] in MDX_INLINE_WRAP):
            # delegate the whole inline span (open tag included) to
            # mdx_inline — one implementation of link/emphasis rendering
            _ce, ni = mdx_close(toks, mi, i)
            ni2 = min(ni, end)
            buf.append(mdx_inline(toks, mi, i, ni2, depth))
            i = ni2
        else:
            i += 1
    flush()
    return blocks


def mdx_convert(html):
    """→ (markdown, n_blocks, [(table_idx, row_idx, col_idx, is_header,
    cell), ...])."""
    if not html:
        return "", 0, []
    toks = mdx_tokenize(html)
    mi = mdx_match_index(toks)
    tables, counter = [], [0]
    blocks = mdx_blocks(toks, mi, 0, len(toks), 0, tables, counter, 0)
    return "\n\n".join(blocks), len(blocks), tables


def mdx_structured_html(doc_id, text):
    """Mirror of graft.catalog.IngestQueries.structuredHtml — the Markdown/table fixture."""
    toks = [w for w in (text or "").split(" ") if w]

    def tk(i):
        return toks[i % len(toks)] if toks else "lorem"

    p = ["<!DOCTYPE html><html><head><title>d%d</title>"
         "<script>var x=1;</script></head><body>" % doc_id,
         "<h1>Doc %d</h1>" % doc_id,
         '<p>%s <b>%s</b> %s <i>%s</i> &amp; <a href="/d/%d">%s %s</a> '
         "end.</p>" % (tk(0), tk(1), tk(2), tk(3), doc_id, tk(4), tk(5)),
         "<h2>Notes &amp; details</h2>",
         "<p>%s %s<br>%s <code>%s</code>" % (tk(6), tk(7), tk(8), tk(9))]
    if doc_id % 5 == 0:
        p.append('<span class="z"> extra %s</span>' % tk(10))
    p.append("</p>")
    p.append("<ul><li>%s</li><li>%s" % (tk(11), tk(12)))
    if doc_id % 3 == 0:
        p.append("<ol><li>deep %s</li><li>deeper %s</li></ol>"
                 % (tk(13), tk(14)))
    p.append("</li><li>%s</li></ul>" % tk(15))
    p.append("<ol><li>%s</li><li><a>%s</a></li></ol>" % (tk(16), tk(17)))
    p.append("<blockquote><p>%s %s quoted</p>" % (tk(18), tk(19)))
    if doc_id % 6 == 0:
        p.append("<blockquote><p>inner %s</p></blockquote>" % tk(20))
    p.append("</blockquote>")
    p.append("<pre>\ncode line one  %s\n  indented %s\n</pre>"
             % (tk(21), tk(22)))
    p.append("<table>")
    if doc_id % 4 != 0:
        p.append("<tr><th>Key</th><th>Value &amp; unit</th></tr>")
    p.append("<tr><td>%s</td><td>%s</td></tr><tr><td>%s</td>"
             '<td><a href="/x/%d">%s</a></td></tr></table>'
             % (tk(23), tk(24), tk(25), doc_id, tk(26)))
    if doc_id % 2 == 0:
        p.append("<table><tr><th>N</th></tr><tr><td>%d</td></tr></table>"
                 % doc_id)
    p.append("<hr><p>tail %s &#8212; done</p>" % tk(27))
    p.append("</body></html>")
    return "".join(p)


# ---------------- Classifier (hashed linear, dyadic stand-in weights) ------
# Clean-room mirror of graft/ops/Classifier.scala.

CLS_DIM = 1 << 18
CLS_SALT = 0xC1A551F1ED5EED
CLS_BIAS = -0.25


def cls_weight(bucket, salt=CLS_SALT):
    return ((mix(bucket ^ salt) >> 53) - 1024) / 1024.0


def cls_score(doc_id, text, salt=CLS_SALT):
    toks = [w for w in (text or "").split(" ") if w]
    counts = {}
    for i, t in enumerate(toks):
        b = string_hash64(t) & (CLS_DIM - 1)
        counts[b] = counts.get(b, 0) + 1
        if i + 1 < len(toks):
            b2 = string_hash64(t + " " + toks[i + 1]) & (CLS_DIM - 1)
            counts[b2] = counts.get(b2, 0) + 1
    logit = CLS_BIAS
    for b, c in counts.items():
        logit += c * cls_weight(b, salt)
    return (doc_id, logit, len(counts), "keep" if logit >= 0.0 else "drop")


# ---------------- NgramLm (CCNet-style bigram perplexity filter) ----------
# Clean-room mirror of graft/ops/NgramLm.scala. lm_log2 is the PINNED
# portable log2 (fixed 7-term atanh series, fixed op order) — bit-identical
# to the Scala side because only correctly-rounded IEEE +,*,/ are used.

def lm_log2(x):
    f, e = math.frexp(x)  # f in [0.5, 1)
    m = f * 2.0           # exact power-of-two scale -> [1, 2)
    e = e - 1
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    s = 1.0 / 13.0
    s = s * z2 + 1.0 / 11.0
    s = s * z2 + 1.0 / 9.0
    s = s * z2 + 1.0 / 7.0
    s = s * z2 + 1.0 / 5.0
    s = s * z2 + 1.0 / 3.0
    s = s * z2 + 1.0
    return float(e) + (2.0 * z * s) * 1.4426950408889634


def lm_prune_threshold(hist, cap):
    """Smallest min-count t with <= cap surviving entries (KenLM-style
    pruning rule; mirrors NgramLm.pruneThreshold)."""
    total = sum(hist.values())
    t = 1
    for c in sorted(hist):
        if total <= cap:
            break
        total -= hist[c]
        t = c + 1
    return t


def lm_train(texts, cap=None):
    u, b = {}, {}
    for t in texts:
        ws = [w for w in (t or "").split(" ") if w]
        for w in ws:
            u[w] = u.get(w, 0) + 1
        for i in range(len(ws) - 1):
            key = (ws[i], ws[i + 1])
            b[key] = b.get(key, 0) + 1
    if cap is not None:
        hist = {}
        for c in list(u.values()) + list(b.values()):
            hist[c] = hist.get(c, 0) + 1
        t = lm_prune_threshold(hist, cap)
        if t > 1:
            u = {k: v for k, v in u.items() if v >= t}
            b = {k: v for k, v in b.items() if v >= t}
    ctx = {}
    for (a, _), c in b.items():
        ctx[a] = ctx.get(a, 0) + c
    return u, b, ctx


def lm_score(text, u, b, ctx):
    v = len(u) + 1
    ws = [w for w in (text or "").split(" ") if w]
    mp = [w if w in u else None for w in ws]
    bits = 0.0
    for i in range(len(mp) - 1):
        if mp[i] is not None and mp[i + 1] is not None:
            cbi = b.get((mp[i], mp[i + 1]), 0)
        else:
            cbi = 0
        cctx = ctx.get(mp[i], 0) if mp[i] is not None else 0
        p = float(cbi + 1) / float(cctx + v)
        bits += -lm_log2(p)
    return len(ws), bits


# ---- mojibake fixture + clean-room repair (q_fix_encoding) ----------------
# Corruption is a SHARED deterministic convention with
# graft.catalog.IngestQueries.mojibakeText; the repair mirrors graft.ops.Mojibake's spec
# (strict latin1->utf8 round-trip, lead-byte guard, <=2 passes)
# independently in Python.

MOJ_WORDS = ["café", "naïve", "señor", "über", "résumé"]


def moj_corrupt(doc_id, t):
    if t is None:
        return None
    toks = t.split(" ")
    for i in range(0, len(toks), 9):
        if toks[i]:
            toks[i] = MOJ_WORDS[(doc_id + i) % 5]
    s = " ".join(toks)
    passes = 2 if doc_id % 10 == 0 else 1 if doc_id % 2 == 0 else 0
    for _ in range(passes):
        s = s.encode("utf-8").decode("latin-1")
    return s


def _moj_roundtrip(s):
    has_lead = False
    for ch in s:
        o = ord(ch)
        if o > 0xFF:
            return None
        if 0xC2 <= o <= 0xF4:
            has_lead = True
    if not has_lead:
        return None
    try:
        return s.encode("latin-1").decode("utf-8")
    except UnicodeDecodeError:
        return None


def moj_fix(s):
    if s is None:
        return None
    r = s
    for _ in range(2):
        d = _moj_roundtrip(r)
        if d is None or d == r:
            return r
        r = d
    return r


# ---------------- LinkGraph ------------------------------------------------
# Clean-room mirror of graft/ops/LinkGraph.scala's documented spec (parser,
# resolver, exact-fold pagerank) plus the LinkGen fixture CONVENTION from
# graft/pipeline/Pages.scala. All case operations are ASCII-pinned; all
# string sorts are over ASCII urls (code-point == UTF-16 order there).

LG_WS = " \t\n\r"


def _lg_ascii_lower(s):
    return "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)


def _java_trim(s):
    b, e = 0, len(s)
    while b < e and s[b] <= " ":
        b += 1
    while e > b and s[e - 1] <= " ":
        e -= 1
    return s[b:e]


# ---- LinkGen fixture convention ----

def link_url_for(i):
    return "https://site%d.example.org/sec%d/d/doc%d.html" % (i % 13, i % 5, i)


def link_deg(i):
    return 3 + s64(mix(i ^ 0x11A7C0DE)) % 6


def link_target(i, k, n):
    return s64(mix(i * 1000003 + k)) % n


def link_href(i, k, t):
    f = k % 6
    if f == 0:
        return link_url_for(t)
    if f == 1:
        return "/sec%d/d/doc%d.html" % (t % 5, t)
    if f == 2:
        return "../d/doc%d.html" % t
    if f == 3:
        return link_url_for(t) + "?a=1&b=%d#frag" % (t % 7)
    if f == 4:
        return "mailto:user%d@example.org" % t
    return "//site%d.example.org/sec%d/d/doc%d.html" % (t % 13, t % 5, t)


def link_anchor_words(words, i, k, t):
    if not words:
        return ["link%d" % t]
    j = s64(mix(i * 31 + k)) % len(words)
    return words[j:j + 3]


def link_page_html(i, text, n):
    words = [w for w in (text or "").split(" ") if w]
    parts = [
        "<html><head><title>doc%d</title></head><body>\n" % i,
        "<h1>doc%d</h1>\n" % i,
        '<abbr>CC</abbr> <a name="top">anchorless</a> '
        "<a href=unquoted>skipped</a>\n",
    ]
    for k in range(link_deg(i)):
        t = link_target(i, k, n)
        href = escape_html(link_href(i, k, t))
        a = [escape_html(w) for w in link_anchor_words(words, i, k, t)]
        if k % 6 == 1 and len(a) >= 2:
            anchor_html = a[0] + " <b>" + " ".join(a[1:]) + "</b>"
        else:
            anchor_html = " ".join(a)
        parts.append('<p>see <a href="%s">%s</a> ok</p>\n' % (href, anchor_html))
    parts.append("</body></html>")
    return "".join(parts)


# ---- parser ----

def lg_strip_tags(s):
    out = []
    i = 0
    while i < len(s):
        if s[i] == "<":
            gt = s.find(">", i + 1)
            i = len(s) if gt < 0 else gt + 1
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def lg_collapse_ws(s):
    out = []
    pending = False
    for c in s:
        if c in LG_WS:
            if out:
                pending = True
        else:
            if pending:
                out.append(" ")
                pending = False
            out.append(c)
    return "".join(out)


def lg_href_of(tag):
    low = _lg_ascii_lower(tag)
    frm = 0
    while True:
        h = low.find("href", frm)
        if h < 0:
            return None
        if h > 0 and tag[h - 1] in LG_WS:
            i = h + 4
            while i < len(tag) and tag[i] in LG_WS:
                i += 1
            if i < len(tag) and tag[i] == "=":
                i += 1
                while i < len(tag) and tag[i] in LG_WS:
                    i += 1
                if i < len(tag) and tag[i] in "\"'":
                    q = tag[i]
                    end = tag.find(q, i + 1)
                    if end > i:
                        return tag[i + 1:end]
                return None
        frm = h + 4


def lg_extract_links(html):
    if html is None:
        return []
    low = _lg_ascii_lower(html)
    out = []
    i = 0
    pos = 0
    while True:
        a = low.find("<a", i)
        if a < 0 or a + 2 >= len(html):
            break
        if html[a + 2] not in LG_WS and html[a + 2] != ">":
            i = a + 2
            continue
        gt = html.find(">", a)
        if gt < 0:
            break
        href = lg_href_of(html[a:gt])
        if href is None:
            i = gt + 1
            continue
        close = low.find("</a>", gt + 1)
        if close < 0:
            break
        inner = html[gt + 1:close]
        anchor = lg_collapse_ws(decode_entities(lg_strip_tags(inner)))
        out.append((decode_entities(_java_trim(href)), anchor, pos))
        pos += 1
        i = close + 4
    return out


# ---- resolver ----

def _lg_ascii_letter(c):
    return ("a" <= c <= "z") or ("A" <= c <= "Z")


def lg_has_scheme(s):
    if not s or not _lg_ascii_letter(s[0]):
        return False
    for c in s[1:]:
        if c == ":":
            return True
        if not (_lg_ascii_letter(c) or ("0" <= c <= "9") or c in "+-."):
            return False
    return False


def lg_strip_fragment(s):
    h = s.find("#")
    return s if h < 0 else s[:h]


def lg_norm_path(path_and_query):
    qi = path_and_query.find("?")
    if qi < 0:
        path, query = path_and_query, ""
    else:
        path, query = path_and_query[:qi], path_and_query[qi:]
    stack = []
    for seg in path.split("/"):
        if seg in ("", "."):
            continue
        if seg == "..":
            if stack:
                stack.pop()
        else:
            stack.append(seg)
    return "/" + "/".join(stack) + query


def lg_resolve(base, href):
    if href is None or base is None:
        return None
    h = lg_strip_fragment(_java_trim(href))
    if h == "":
        return None
    sep = base.find("://")
    if sep < 0:
        return None
    scheme = _lg_ascii_lower(base[:sep])
    rest = base[sep + 3:]
    slash = rest.find("/")
    host = rest if slash < 0 else rest[:slash]
    base_path = lg_strip_fragment("/" if slash < 0 else rest[slash:])
    hl = _lg_ascii_lower(h)
    if hl.startswith("http://") or hl.startswith("https://"):
        s2 = h.find("://")
        r2 = h[s2 + 3:]
        sl2 = r2.find("/")
        if sl2 < 0:
            return _lg_ascii_lower(h[:s2]) + "://" + r2 + "/"
        return _lg_ascii_lower(h[:s2]) + "://" + r2[:sl2] + lg_norm_path(r2[sl2:])
    if h.startswith("//"):
        r2 = h[2:]
        sl2 = r2.find("/")
        if sl2 < 0:
            return scheme + "://" + r2 + "/"
        return scheme + "://" + r2[:sl2] + lg_norm_path(r2[sl2:])
    if lg_has_scheme(h):
        return None
    if h.startswith("/"):
        return scheme + "://" + host + lg_norm_path(h)
    dir_end = base_path.rfind("/")
    d = "/" if dir_end < 0 else base_path[:dir_end + 1]
    return scheme + "://" + host + lg_norm_path(d + h)


# ---- edge list + exact-fold pagerank ----

def link_edges(doc_items):
    n = len(doc_items)
    rows = []
    for i, text in doc_items:
        url = link_url_for(i)
        html = link_page_html(i, text, n)
        resolved = []
        for href, anchor, _ in lg_extract_links(html):
            dst = lg_resolve(url, href)
            if dst is not None:
                resolved.append((dst, anchor))
        for p, (dst, anchor) in enumerate(resolved):
            rows.append((url, dst, anchor, p))
    return rows


def lg_pagerank(edge_rows, iters=20, damping=0.85):
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    n = len(verts)
    if n == 0:
        return []
    nd = float(n)
    base = (1.0 - damping) / nd
    outdeg = {}
    for s, _ in simple:
        outdeg[s] = outdeg.get(s, 0) + 1
    by_dst = {}
    for s, d in simple:
        by_dst.setdefault(d, []).append(s)
    for d in by_dst:
        by_dst[d].sort()
    rank = {v: 1.0 / nd for v in verts}
    for _ in range(iters):
        dm = 0.0
        for v in verts:  # sorted-vertex fold — pinned addition order
            if outdeg.get(v, 0) == 0:
                dm = dm + rank[v]
        dmn = dm / nd
        nxt = {}
        for v in verts:
            c = 0.0
            for s in by_dst.get(v, []):  # sorted-src fold — pinned order
                c = c + rank[s] / float(outdeg[s])
            nxt[v] = base + damping * (c + dmn)
        rank = nxt
    return [(v, rank[v]) for v in verts]


# ---------------- Scripts (writing-system mix) -----------------------------
# Clean-room mirror of graft/ops/Scripts.scala + graft.catalog.TextQueries.scriptText.

SC_BASES = {"zh": (0x4E00, 26), "es": (0x0430, 26),
            "de": (0x03B1, 25), "fr": (0x0627, 26)}
SC_NAMES = ["arabic", "cyrillic", "greek", "han", "latin"]


def sc_text(doc_id, lang, text):
    if lang not in SC_BASES:
        return text or ""
    base, span = SC_BASES[lang]
    out = []
    for ti, tok in enumerate((text or "").split(" ")):
        if (ti + doc_id) % 3 == 0:
            buf = []
            for ch in tok:
                lc = chr(ord(ch) + 32) if "A" <= ch <= "Z" else ch
                if "a" <= lc <= "z":
                    buf.append(chr(base + (ord(lc) - ord("a")) % span))
                else:
                    buf.append(ch)
            out.append("".join(buf))
        else:
            out.append(tok)
    return " ".join(out)


def sc_mix(doc_id, text):
    c = [0, 0, 0, 0, 0]  # arabic, cyrillic, greek, han, latin
    for ch in text or "":
        cp = ord(ch)
        if 0x41 <= cp <= 0x5A or 0x61 <= cp <= 0x7A or 0xC0 <= cp <= 0x2AF:
            c[4] += 1
        elif 0x370 <= cp <= 0x3FF:
            c[2] += 1
        elif 0x400 <= cp <= 0x4FF:
            c[1] += 1
        elif 0x600 <= cp <= 0x6FF:
            c[0] += 1
        elif 0x3400 <= cp <= 0x4DBF or 0x4E00 <= cp <= 0x9FFF:
            c[3] += 1
    dom_i = 0
    for i in range(1, 5):
        if c[i] > c[dom_i]:
            dom_i = i
    second = max((c[i] for i in range(5) if i != dom_i), default=0)
    total = sum(c)
    dom = "none" if total == 0 else SC_NAMES[dom_i]
    mixed = total > 0 and 5 * second >= c[dom_i]
    return (doc_id, c[0], c[1], c[2], c[3], c[4], total, dom, mixed)


def lg_components(edge_rows):
    """Weakly-connected components (mirrors
    Centrality.localExactComponents): union-find over the undirected
    view; component id = min member url (python str < = code-point)."""
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    parent = {v: v for v in verts}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for s, d in simple:
        rs, rd = find(s), find(d)
        if rs != rd:
            lo, hi = (rs, rd) if rs < rd else (rd, rs)
            parent[hi] = lo
    canon = {}
    for v in verts:
        r = find(v)
        if r not in canon or v < canon[r]:
            canon[r] = v
    return [(v, canon[find(v)]) for v in verts]


def lg_lpa(edge_rows, iters=10):
    """Exact synchronous label propagation (mirrors
    Centrality.localExactLpa): undirected neighbor lists (one entry per
    deduped directed edge), most-frequent neighbor label, ties to the
    smallest label in code-point order."""
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    nbrs = {v: [] for v in verts}
    for s, d in simple:
        nbrs[s].append(d)
        nbrs[d].append(s)
    labels = {v: v for v in verts}
    for _ in range(iters):
        nxt = {}
        for v in verts:
            if not nbrs[v]:
                nxt[v] = labels[v]
                continue
            counts = {}
            for u in nbrs[v]:
                l = labels[u]
                counts[l] = counts.get(l, 0) + 1
            best, best_c = None, 0
            for l, c in counts.items():
                if c > best_c or (c == best_c and l < best):
                    best, best_c = l, c
            nxt[v] = best
        labels = nxt
    return [(v, labels[v]) for v in verts]


def lg_hits(edge_rows, iters=20):
    """Exact HITS (mirrors Centrality.localExactHits): pinned sorted
    folds everywhere; math.sqrt is correctly-rounded IEEE."""
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    by_dst = {}
    by_src = {}
    for s, d in simple:  # sorted iteration -> sorted neighbor lists
        by_dst.setdefault(d, []).append(s)
        by_src.setdefault(s, []).append(d)
    auth = {v: 1.0 for v in verts}
    hub = {v: 1.0 for v in verts}

    def normalize(m):
        s = 0.0
        for v in verts:  # sorted-vertex fold
            s += m[v] * m[v]
        n = math.sqrt(s)
        if n == 0.0:
            return m
        return {v: m[v] / n for v in verts}

    for _ in range(iters):
        a2 = {}
        for v in verts:
            s = 0.0
            for u in by_dst.get(v, []):
                s += hub[u]
            a2[v] = s
        auth = normalize(a2)
        h2 = {}
        for v in verts:
            s = 0.0
            for w in by_src.get(v, []):
                s += auth[w]
            h2[v] = s
        hub = normalize(h2)
    return [(v, auth[v], hub[v]) for v in verts]


# ---------------- Centrality (harmonic, exact + HyperBall) -----------------
# Clean-room mirror of graft/ops/Centrality.scala: pinned md5-head hash,
# 64-register HLL, portable-ln linear-counting branch, source-sorted BFS.

HC_B = 6
HC_M = 1 << HC_B
HC_ALPHA = 0.709


def hc_hash64(s):
    return int.from_bytes(
        hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def hc_register(h):
    j = h >> (64 - HC_B)
    rest = h & ((1 << (64 - HC_B)) - 1)
    return j, (64 - HC_B) - rest.bit_length() + 1


def hc_init(url):
    regs = bytearray(HC_M)
    j, rho = hc_register(hc_hash64(url))
    regs[j] = rho
    return regs


def hc_estimate(regs):
    sm = 0.0
    zeros = 0
    for r in regs:  # register-index fold — pinned order
        sm += math.ldexp(1.0, -r)
        if r == 0:
            zeros += 1
    raw = HC_ALPHA * HC_M * HC_M / sm
    if raw <= 2.5 * HC_M and zeros > 0:
        return HC_M * (lm_log2(HC_M / zeros) * LN2)
    return raw


def hc_exact(edge_rows):
    """Exact harmonic centrality: sorted-source BFS, H(v) += 1/d folds in
    source order."""
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    adj = {}
    for s, d in simple:
        adj.setdefault(s, []).append(d)
    h = {v: 0.0 for v in verts}
    for src in verts:
        dist = {src: 0}
        frontier = [src]
        d = 1
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, []):
                    if v not in dist:
                        dist[v] = d
                        h[v] = h[v] + 1.0 / d
                        nxt.append(v)
            frontier = nxt
            d += 1
    return [(v, h[v]) for v in verts]


def hc_hyperball(edge_rows, iters=10):
    """HyperBall: register-wise-max rounds over in-edges; H accumulates
    (est_t - est_{t-1})/t. Registers are integers (order-free max), so
    the whole run is cross-engine deterministic."""
    simple = sorted({(s, d) for (s, d, _a, _p) in edge_rows})
    verts = sorted({s for s, _ in simple} | {d for _, d in simple})
    by_dst = {}
    for s, d in simple:
        by_dst.setdefault(d, []).append(s)
    regs = {v: hc_init(v) for v in verts}
    prev = {v: hc_estimate(regs[v]) for v in verts}
    h = {v: 0.0 for v in verts}
    for t in range(1, iters + 1):
        nxt = {}
        for v in verts:
            merged = bytearray(regs[v])
            for s in by_dst.get(v, []):
                sr = regs[s]
                for i in range(HC_M):
                    if sr[i] > merged[i]:
                        merged[i] = sr[i]
            nxt[v] = merged
        regs = nxt
        for v in verts:
            est = hc_estimate(regs[v])
            h[v] = h[v] + (est - prev[v]) / float(t)
            prev[v] = est
    return [(v, h[v], prev[v]) for v in verts]


# ---------------- DSIR (importance-resampling data selection) --------------
# Clean-room mirror of graft/ops/Dsir.scala: md5-head hash masked to the
# power-of-two bucket count, add-1 log-ratios via the portable ln,
# feature-order weight folds, pinned Gumbel from the doc_id hash.

DS_M = 8192


def ds_bucket(feature):
    return hc_hash64(feature) & (DS_M - 1)


def ds_buckets(text):
    toks = [w for w in (text or "").split(" ") if w]
    out = [ds_bucket(w) for w in toks]
    out.extend(ds_bucket(toks[j] + " " + toks[j + 1])
               for j in range(len(toks) - 1))
    return out


def ds_ln(x):
    return lm_log2(x) * LN2


def ds_gumbel(doc_id):
    h = hc_hash64("dsir|%d" % doc_id)
    u = (float(h >> 11) + 0.5) * math.ldexp(1.0, -53)
    return -ds_ln(-ds_ln(u))


def ds_select(rows, k):
    """rows: [(doc_id, text, is_target)]. Returns
    [(doc_id, log_weight, gumbel, score, selected)] in input order."""
    tcnt = [0] * DS_M
    rcnt = [0] * DS_M
    tt = tr = 0
    for _id, text, is_t in rows:
        for b in ds_buckets(text):
            rcnt[b] += 1
            tr += 1
            if is_t:
                tcnt[b] += 1
                tt += 1
    ratio = [ds_ln(float(tcnt[b] + 1) / float(tt + DS_M)) -
             ds_ln(float(rcnt[b] + 1) / float(tr + DS_M))
             for b in range(DS_M)]
    out = []
    for _id, text, _ in rows:
        w = 0.0
        for b in ds_buckets(text):
            w = w + ratio[b]
        g = ds_gumbel(_id)
        out.append((_id, w, g, w + g))
    top = sorted(out, key=lambda r: (-r[3], r[0]))[:k]
    sel = {r[0] for r in top}
    return [(i, w, g, s, i in sel) for (i, w, g, s) in out]


def ds_divergence(rows):
    """rows: [(doc_id, text, shard)] -> [(shard, n_features, kl_nats)]
    sorted by shard. Mirrors Dsir.divergence (pinned smoothing + folds;
    a None shard key is pinned to ""; a shard with zero feature buckets
    still gets a row)."""
    per = {}
    for _id, text, shard in rows:
        arr = per.setdefault(shard if shard is not None else "", [0] * DS_M)
        for b in ds_buckets(text):
            arr[b] += 1
    shards = sorted(per)
    corpus = [0] * DS_M
    for s in shards:
        a = per[s]
        for b in range(DS_M):
            corpus[b] += a[b]
    tot = sum(corpus)
    out = []
    for s in shards:
        a = per[s]
        tot_s = sum(a)
        kl = 0.0
        for b in range(DS_M):
            p = float(a[b] + 1) / float(tot_s + DS_M)
            q = float(corpus[b] + 1) / float(tot + DS_M)
            kl += p * ds_ln(p / q)
        out.append((s, tot_s, kl))
    return out


# ---------------- WordPiece (BERT-family tokenizer) ------------------------
# Clean-room mirror of graft/ops/Wordpiece.scala: likelihood-gain merges
# (score = pc / (float(cl) * float(cr)) — floats converted BEFORE the
# multiply, pinned), ## continuations, greedy longest-match inference
# with whole-word [UNK].

WP_UNK = "[UNK]"


def wp_syms(w):
    return [c if i == 0 else "##" + c for i, c in enumerate(w)]


def wp_strip(s):
    return s[2:] if s.startswith("##") else s


def wp_apply(syms, l, r, token):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(token)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def wp_train_local(word_freqs, num_merges):
    """word_freqs: {word: freq}. Returns merge rows
    (rank, left, right, token, pair_count, left_count, right_count)."""
    vocab = {w: wp_syms(w) for w in word_freqs}
    merges = []
    for k in range(1, num_merges + 1):
        pc = {}
        sc = {}
        for w, f in word_freqs.items():
            s = vocab[w]
            for sym in s:
                sc[sym] = sc.get(sym, 0) + f
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        best, best_n, best_s = None, 0, float("-inf")
        for p, n in pc.items():
            s = n / (float(sc[p[0]]) * float(sc[p[1]]))
            if s > best_s or (s == best_s and p < best):
                best, best_n, best_s = p, n, s
        l, r = best
        token = l + wp_strip(r)
        merges.append((k, l, r, token, best_n, sc[l], sc[r]))
        vocab = {w: wp_apply(s, l, r, token) for w, s in vocab.items()}
    return merges


def wp_model(word_freqs, num_merges, min_sym_count=2):
    sc = {}
    for w, f in word_freqs.items():
        for sym in wp_syms(w):
            sc[sym] = sc.get(sym, 0) + f
    merges = wp_train_local(word_freqs, num_merges)
    vocab = {s for s, n in sc.items() if n >= min_sym_count}
    vocab |= {m[3] for m in merges}
    return vocab


def wp_encode(w, vocab, max_cps):
    out, i, first = [], 0, True
    while i < len(w):
        j = min(len(w), i + max_cps)
        hit = None
        while hit is None and j > i:
            cand = w[i:j] if first else "##" + w[i:j]
            if cand in vocab:
                hit = cand
            else:
                j -= 1
        if hit is None:
            return [WP_UNK]
        out.append(hit)
        i = j
        first = False
    return out


# ---------------- Retrieval (BM25) ----------------------------------------
# Clean-room mirror of graft/ops/Retrieval.scala: Okapi BM25, pinned
# portable ln (lm_log2 * ln2), query-term-order score folds, Lucene +1 idf
# floor, ties on doc_id.

BM25_K1 = 1.2
BM25_B = 0.75
LN2 = 0.6931471805599453


def bm25_idf(n, df):
    return lm_log2((n - df + 0.5) / (df + 0.5) + 1.0) * LN2


def bm25_query_terms(text):
    """Fixture convention: first 3 distinct >=5-char tokens, appearance
    order (graft.catalog.DedupQueries.bm25Queries)."""
    seen = []
    for w in (text or "").split(" "):
        if len(w) >= 5 and w not in seen and len(seen) < 3:
            seen.append(w)
    return seen


def bm25_topk(doc_items, query_items, k=10):
    """doc_items: [(doc_id, text)]; query_items: [(query_id, [terms])].
    Returns rows (query_id, rank, doc_id, score) with the pinned
    arithmetic: contributions fold in query-term order, tf==0 skipped."""
    tf = {}
    dl = {}
    for i, t in doc_items:
        if i is None or t is None:
            continue
        ws = [w for w in t.split(" ") if w]
        # zero-token docs have no stats rows Spark-side (explode of an
        # empty array) and so do not count toward n or avgdl — mirror that
        if ws:
            d = {}
            for w in ws:
                d[w] = d.get(w, 0) + 1
            tf[i] = d
            dl[i] = len(ws)
    n = len(tf)
    if n == 0:
        return []
    avgdl = float(sum(dl.values())) / float(n)
    df = {}
    for i, d in tf.items():
        for w in d:
            df[w] = df.get(w, 0) + 1
    k1p1 = BM25_K1 + 1.0
    one_minus_b = 1.0 - BM25_B
    rows = []
    for qid, terms in query_items:
        idfs = [bm25_idf(n, df.get(w, 0)) for w in terms]
        cand = {}
        for i, d in tf.items():
            s = 0.0
            hit = False
            for w, idf_t in zip(terms, idfs):  # query-term order — pinned
                f = d.get(w, 0)
                if f == 0:
                    continue
                hit = True
                s = s + (idf_t * (float(f) * k1p1)) / (
                    float(f) + BM25_K1 * (one_minus_b + BM25_B *
                                          (float(dl[i]) / avgdl)))
            if hit:
                cand[i] = s
        top = sorted(cand.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        for r, (i, s) in enumerate(top, start=1):
            rows.append((qid, r, i, s))
    return rows


# ---------------- Sentences -----------------------------------------------
# Shared fixture convention (graft.catalog.TextQueries.sentenceizeText) + clean-room
# mirror of graft/ops/Sentences.scala's pinned boundary spec.

SENT_ABBREV = {"mr", "mrs", "ms", "dr", "prof", "st", "vs", "etc", "eg",
               "ie", "no", "fig", "jr", "sr", "inc", "ltd", "co", "dept"}
SENT_TERMS = [". ", "! ", "? ", ". "]


def _cap_first(w):
    if w and "a" <= w[0] <= "z":
        return chr(ord(w[0]) - 32) + w[1:]
    return w


def sent_fixture(doc_id, t):
    if t is None:
        return None
    toks = [w for w in t.split(" ") if w]
    if not toks:
        return ""
    parts = []
    i = 0
    j = 0
    while i < len(toks):
        ln = 4 + s64(mix(doc_id * 97 + j)) % 9
        sent = toks[i:i + ln]
        i += len(sent)
        sent[0] = _cap_first(sent[0])
        if j % 4 == 1 and len(sent) >= 2:
            sent.insert(1, "Dr.")
            sent[2] = _cap_first(sent[2])
        elif j % 7 == 2 and len(sent) >= 2:
            sent.insert(1, "J.")
            sent[2] = _cap_first(sent[2])
        elif j % 5 == 3 and len(sent) >= 2:
            sent.insert(1, "3.14")
        parts.append(" ".join(sent))
        term = SENT_TERMS[j % 4]
        parts.append(term.rstrip(" ") if i >= len(toks) else term)
        j += 1
    return "".join(parts)


def _sent_is_ws(c):
    return c in " \t\n\r"


def _sent_word_ending_at(s, i):
    b = i
    while b > 0 and not _sent_is_ws(s[b - 1]):
        b -= 1
    return s[b:i]


def _sent_guarded(s, i):
    if s[i] != ".":
        return False
    w = _sent_word_ending_at(s, i)
    if not w:
        return False
    if len(w) == 1 and "A" <= w <= "Z":
        return True
    low = []
    for c in w:
        if "A" <= c <= "Z":
            low.append(chr(ord(c) + 32))
        elif "a" <= c <= "z":
            low.append(c)
        else:
            return False
    return "".join(low) in SENT_ABBREV


def _sent_trim(s):
    b, e = 0, len(s)
    while b < e and _sent_is_ws(s[b]):
        b += 1
    while e > b and _sent_is_ws(s[e - 1]):
        e -= 1
    return s[b:e]


def sent_split(text):
    if text is None:
        return []
    out = []
    start = 0
    i = 0
    n = len(text)
    while i < n:
        if text[i] in ".!?" and not _sent_guarded(text, i):
            e = i
            while e + 1 < n and text[e + 1] in ".!?":
                e += 1
            c = e
            while c + 1 < n and text[c + 1] in "\"')]":
                c += 1
            w = c + 1
            while w < n and _sent_is_ws(text[w]):
                w += 1
            if w > c + 1 and w < n and (
                    ("A" <= text[w] <= "Z") or ("0" <= text[w] <= "9")):
                sent = _sent_trim(text[start:c + 1])
                if sent:
                    out.append(sent)
                start = w
                i = w
            else:
                i = e + 1
        else:
            i += 1
    tail = _sent_trim(text[start:])
    if tail:
        out.append(tail)
    return out


# ---------------- WARC --------------------------------------------------
# Shared archive-fixture convention (graft.catalog.IngestQueries.warcArchives) + clean-room
# mirror of graft/ops/Warc.scala's pinned byte-level parse spec.

import datetime as _dt
import gzip
import zlib


def warc_date(doc_id):
    return _dt.datetime.fromtimestamp(
        1767225600 + doc_id, _dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def warc_archive(pages):
    """pages: [(doc_id, html_bytes, url)] in doc_id order -> archive bytes."""
    parts = []
    for doc_id, html, url in pages:
        header = ("WARC/1.0\r\nWARC-Type: response\r\n"
                  "WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
                  "Content-Length: %d\r\n\r\n" % (url, warc_date(doc_id), len(html)))
        parts.append(header.encode("ascii"))
        parts.append(html)
        parts.append(b"\r\n\r\n")
    return b"".join(parts)


def warc_archive_gz(pages):
    """Per-record-gzipped archive (the .warc.gz convention): every record
    of warc_archive compresses as its OWN gzip member, concatenated.
    mtime pinned to 0 for determinism."""
    parts = []
    for doc_id, html, url in pages:
        header = ("WARC/1.0\r\nWARC-Type: response\r\n"
                  "WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
                  "Content-Length: %d\r\n\r\n" % (url, warc_date(doc_id),
                                                  len(html)))
        record = header.encode("ascii") + html + b"\r\n\r\n"
        parts.append(gzip.compress(record, mtime=0))
    return b"".join(parts)


def gz_members(data):
    """Split a multi-member gzip blob into decompressed members (mirrors
    graft.ops.Warc.gzMembers): valid-prefix semantics — a truncated or
    corrupt member (zlib error, bad CRC/ISIZE, junk byte) ends the scan.
    zlib's gzip mode verifies the trailer itself (eof only sets after a
    valid CRC32+ISIZE), matching the Scala side's explicit check."""
    out = []
    pos = 0
    while (pos + 10 <= len(data) and data[pos] == 0x1F
           and data[pos + 1] == 0x8B and data[pos + 2] == 8):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            member = d.decompress(data[pos:])
        except zlib.error:
            break
        if not d.eof:
            break  # truncated member: stop at the valid prefix
        out.append(member)
        pos = len(data) - len(d.unused_data)
    return out


def gunzip_members(data):
    return b"".join(gz_members(data))


def gz_member_spans(data):
    """[(compressed_offset, compressed_length, member_bytes)] — mirrors
    Warc.gzMemberSpans (valid-prefix semantics like gz_members)."""
    out = []
    pos = 0
    while (pos + 10 <= len(data) and data[pos] == 0x1F
           and data[pos + 1] == 0x8B and data[pos + 2] == 8):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            member = d.decompress(data[pos:])
        except zlib.error:
            break
        if not d.eof:
            break
        end = len(data) - len(d.unused_data)
        out.append((pos, end - pos, member))
        pos = end
    return out


def cdx_gz_rows(blob, archive_id):
    """CDX rows over a .warc.gz blob: spans are the member's COMPRESSED
    (offset, length) — mirrors Warc.cdxGz."""
    rows = []
    for off, ln, member in gz_member_spans(blob):
        for (_o, _rt, uri, dt, _cl, payload) in warc_parse(member):
            rows.append((archive_id, cdx_surt(uri), uri, dt,
                         cdx_sha1_b32(payload), off, ln))
    return rows


# ---- Unigram-LM tokenizer (mirrors graft.ops.Unigram) ----

UG_LN2 = 0.6931471805599453


def ug_ln(x):
    return lm_log2(x) * UG_LN2


def ug_substring_freqs(words, max_len):
    """{substring: sum(freq * overlapping occurrences)} (code points —
    python strings natively)."""
    acc = {}
    for w, f in words:
        n = len(w)
        for i in range(n):
            for l in range(1, min(max_len, n - i) + 1):
                k = w[i:i + l]
                acc[k] = acc.get(k, 0) + f
    return acc


def ug_viterbi(w, scores, max_len, floor):
    """Pinned DP: i ascending, L=1..max ascending, strict > wins (the
    shortest L takes ties); unknown single cps take `floor`, unknown
    multis are skipped."""
    n = len(w)
    if n == 0:
        return []
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    bl = [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for l in range(1, min(max_len, i) + 1):
            piece = w[i - l:i]
            if piece in scores:
                sc = scores[piece]
            elif l == 1:
                sc = floor
            else:
                continue
            if sc == NEG or best[i - l] == NEG:
                continue
            cand = best[i - l] + sc
            if cand > best[i]:
                best[i] = cand
                bl[i] = l
    out = []
    p = n
    while p > 0:
        l = bl[p]
        out.append(w[p - l:p])
        p -= l
    out.reverse()
    return out


def ug_train(doc_items, vocab_size=120, max_len=6, seed_size=400,
             em_rounds=3):
    """-> [(rank, piece, count, lnprob)] (mirrors Unigram.train)."""
    wf = {}
    for _i, t in doc_items:
        for w in (t or "").split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    words = list(wf.items())
    sub = ug_substring_freqs(words, max_len)
    singles = [(p, f) for p, f in sub.items() if len(p) == 1]
    multis = [(p, f) for p, f in sub.items() if len(p) > 1]
    multis.sort(key=lambda x: (-x[1], x[0]))
    counts = dict(singles)
    for p, f in multis[:max(0, seed_size - len(singles))]:
        counts[p] = f
    NEG = float("-inf")
    for _r in range(em_rounds):
        total = float(sum(counts.values()))
        sc = {p: ug_ln(float(n)) - ug_ln(total) for p, n in counts.items()}
        nxt = {}
        for w, f in words:
            for p in ug_viterbi(w, sc, max_len, NEG):
                nxt[p] = nxt.get(p, 0) + f
        for p in counts:
            if len(p) == 1 and p not in nxt:
                nxt[p] = 1
        counts = nxt
    cs = [(p, n) for p, n in counts.items() if len(p) == 1]
    ms = [(p, n) for p, n in counts.items() if len(p) > 1]
    ms.sort(key=lambda x: (-x[1], x[0]))
    kept = cs + ms[:max(0, vocab_size - len(cs))]
    kept.sort(key=lambda x: (-x[1], x[0]))
    total = float(sum(n for _p, n in kept))
    return [(i + 1, p, n, ug_ln(float(n)) - ug_ln(total))
            for i, (p, n) in enumerate(kept)]


def ug_encode_rows(doc_items, trained):
    """-> [(doc_id, n_pieces, piece_preview)] (mirrors
    Unigram.encodeCounts over the trained table)."""
    scores = {p: lp for (_r, p, _n, lp) in trained}
    max_len = max((len(p) for p in scores), default=1)
    floor = min(scores.values()) - 1.0 if scores else 0.0
    rows = []
    for i, t in doc_items:
        toks = [w for w in (t or "").split(" ") if w]
        buf = []
        n = 0
        for w in toks:
            for p in ug_viterbi(w, scores, max_len, floor):
                if len(buf) < 12:
                    buf.append(p)
                n += 1
        rows.append((i, n, "|".join(buf)))
    return rows


# ---- phrase-blocklist matching (mirrors graft.ops.Blocklist) ----

BL_PHRASES = ["slow", "big data", "hash join", "sort merge group",
              "SPARK", "never matches anything"]


def bl_fold(s):
    return "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)


def bl_tokens(text):
    if text is None:
        return []
    return [bl_fold(w) for w in text.split(" ") if w]


def bl_rows(doc_items, phrases=None, max_matches=2):
    """(doc_id, n_matches, n_phrases, keep) per doc — mirrors
    Blocklist.matchCounts (token-boundary contiguous-subsequence hits,
    overlaps counted, duplicate phrases collapse)."""
    if phrases is None:
        phrases = BL_PHRASES
    keys = {" ".join(bl_tokens(p)) for p in phrases if bl_tokens(p)}
    by_len = {}
    for k in keys:
        by_len.setdefault(k.count(" ") + 1, set()).add(k)
    rows = []
    for i, t in doc_items:
        toks = bl_tokens(t)
        n = 0
        hit = set()
        for pos in range(len(toks)):
            for L, ks in by_len.items():
                if pos + L <= len(toks):
                    w = " ".join(toks[pos:pos + L])
                    if w in ks:
                        n += 1
                        hit.add(w)
        rows.append((i, n, len(hit), n <= max_matches))
    return rows


def wet_bytes(recs):
    """recs: [(uri, date, text)] -> WET conversion-record bytes (mirrors
    Warc.wetBytes; Content-Length counts UTF-8 BYTES of the text)."""
    parts = []
    for uri, date, text in recs:
        body = text.encode("utf-8")
        header = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
                  "WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
                  "Content-Type: text/plain\r\n"
                  "Content-Length: %d\r\n\r\n" % (uri, date, len(body)))
        parts.append(header.encode("ascii"))
        parts.append(body)
        parts.append(b"\r\n\r\n")
    return b"".join(parts)


def wet_row(blob, archive_id):
    """(archive_id, n_records, wet_length, wet_sha1) — mirrors Warc.wet
    over one archive blob."""
    rs = warc_parse(blob)
    recs = [(uri, dt, extract_text(payload.decode("utf-8")))
            for (_o, _rt, uri, dt, _cl, payload) in rs]
    bb = wet_bytes(recs)
    return (archive_id, len(rs), len(bb), cdx_sha1_b32(bb))


def wat_json(uri, date, content_length, title, links):
    """Mirror of Warc.watJson — json.dumps over the same pinned structure
    (the Scala serializer's escaping is pinned to json.dumps's)."""
    import json as _json
    head = {}
    if title is not None:
        head["Title"] = title
    obj = {"Envelope": {
        "WARC-Header-Metadata": {
            "WARC-Target-URI": uri, "WARC-Date": date,
            "Content-Length": content_length},
        "Payload-Metadata": {"HTML-Metadata": {
            "Head": head,
            "Links": [{"url": h, "text": a} for (h, a, _p) in links]}}}}
    return _json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def wat_bytes(recs):
    """recs: [(uri, date, json)] -> WAT metadata-record bytes (mirrors
    Warc.watBytes)."""
    parts = []
    for uri, date, js in recs:
        body = js.encode("utf-8")
        header = ("WARC/1.0\r\nWARC-Type: metadata\r\n"
                  "WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
                  "Content-Type: application/json\r\n"
                  "Content-Length: %d\r\n\r\n" % (uri, date, len(body)))
        parts.append(header.encode("ascii"))
        parts.append(body)
        parts.append(b"\r\n\r\n")
    return b"".join(parts)


def wat_row(blob, archive_id):
    """(archive_id, n_records, n_links, wat_length, wat_sha1) — mirrors
    Warc.wat over one archive blob."""
    rs = warc_parse(blob)
    recs = []
    n_links = 0
    for (_o, _rt, uri, dt, _cl, payload) in rs:
        html = payload.decode("utf-8")
        links = lg_extract_links(html)
        n_links += len(links)
        title = hm_parse(html, uri)[0]
        recs.append((uri, dt, wat_json(uri, dt, len(payload), title, links)))
    bb = wat_bytes(recs)
    return (archive_id, len(rs), n_links, len(bb), cdx_sha1_b32(bb))


def cdx_surt(uri):
    """SURT url key (mirrors Warc.surt): first-'://' scheme strip, one
    leading 'www.' dropped, host labels reversed comma-joined, ')' +
    rest, ASCII-lowercased. Java's split drops TRAILING empty labels --
    emulated here."""
    if uri is None:
        return ")"
    sep = uri.find("://")
    no_scheme = uri if sep < 0 else uri[sep + 3:]
    slash = no_scheme.find("/")
    host0, rest = ((no_scheme, "") if slash < 0
                   else (no_scheme[:slash], no_scheme[slash:]))
    host = _lg_ascii_lower(host0)
    h = host[4:] if host.startswith("www.") else host
    parts = h.split(".")
    while parts and parts[-1] == "":
        parts.pop()
    return ",".join(reversed(parts)) + ")" + _lg_ascii_lower(rest)


def cdx_sha1_b32(data):
    import base64
    import hashlib
    return base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def cdx_rows(blob, archive_id):
    """CDX rows over one archive (mirrors Warc.cdx): rec_length spans to
    the next record's offset (last record runs to the blob end)."""
    rs = warc_parse(blob)
    rows = []
    for i, (off, _rt, uri, dt, _cl, payload) in enumerate(rs):
        end = rs[i + 1][0] if i + 1 < len(rs) else len(blob)
        rows.append((archive_id, cdx_surt(uri), uri, dt,
                     cdx_sha1_b32(payload), off, end - off))
    return rows


def warc_parse(data):
    """Clean-room parse per the pinned spec: valid-prefix records as
    (offset, rec_type, uri, date, content_length, payload_bytes)."""
    out = []
    magic = b"WARC/1.0\r\n"
    pos = 0
    n = len(data)
    while True:
        if data[pos:pos + len(magic)] != magic:
            break
        rec_start = pos
        p = pos + len(magic)
        rec_type = uri = date = None
        content_length = -1
        bad = False
        while True:
            if p + 1 < n and data[p:p + 2] == b"\r\n":
                p += 2
                break
            e = data.find(b"\r\n", p)
            if e < 0:
                bad = True
                break
            line = data[p:e].decode("ascii", errors="replace")
            ci = line.find(":")
            if ci > 0:
                name = "".join(
                    chr(ord(c) + 32) if "A" <= c <= "Z" else c
                    for c in line[:ci])
                v = line[ci + 1:]
                b = 0
                while b < len(v) and v[b] == " ":
                    b += 1
                v = v[b:]
                if name == "warc-type":
                    rec_type = v
                elif name == "warc-target-uri":
                    uri = v
                elif name == "warc-date":
                    date = v
                elif name == "content-length":
                    content_length = int(v) if v and v.isdigit() and all(
                        "0" <= c <= "9" for c in v) else -1
            p = e + 2
        if bad or content_length < 0 or p + content_length + 4 > n:
            break
        payload = data[p:p + content_length]
        after = p + content_length
        if data[after:after + 4] != b"\r\n\r\n":
            break
        out.append((rec_start, rec_type or "", uri or "", date or "",
                    content_length, payload))
        pos = after + 4
    return out


# ---------------- JL random projection ------------------------------------
# Clean-room mirror of Similarity.jlProject/reduceDims: same hyperplane
# family and seed, dot folded in ascending dimension order, / sqrt(m).

import math as _math

JL_SEED = 0x01DFACADE


def jl_project(vec, planes, inv_sqrt_m):
    out = []
    for p in planes:
        dot = 0.0
        for i in range(min(len(vec), len(p))):
            dot += float(vec[i]) * p[i]
        out.append(dot * inv_sqrt_m)
    return out


def jl_reduce_rows(vec_items, out_dim=16, in_dim=64, seed=JL_SEED):
    planes = hyperplanes(out_dim, in_dim, seed)
    inv = 1.0 / _math.sqrt(float(out_dim))
    rows = []
    for vid, v in vec_items:
        for j, val in enumerate(jl_project(v, planes, inv)):
            rows.append((vid, j, val))
    return rows


# ---- robots exclusion (mirrors graft.ops.Robots + pipeline.RobotsGen) ----

RB_AGENT = "graftbot"


def rb_host_for(h):
    return f"site{h}.example.org"


def rb_robots_txt_for(h):
    """Token-for-token mirror of RobotsGen.robotsTxtFor (Pages.scala)."""
    if h == 11:
        return None
    eol = "\r\n" if h == 3 else "\n"
    b = []
    b.append("# synthetic robots for " + rb_host_for(h))
    b.append("User-Agent: MegaBot")
    b.append("Disallow: /")
    b.append("")
    if h != 7:
        if h % 4 == 2:
            b.append("User-agent: graft")
            b.append("Disallow: /sec" + str((h + 1) % 5) + "/")
            b.append("")
        b.append("user-agent: graftbot")
        if h % 4 == 0:
            b.append("User-agent: graftbot-news")
        b.append("Allow: /sec" + str(h % 5) + "/d/" +
                 (" # the content dir" if h == 3 else ""))
        b.append("DisAllow: /sec" + str(h % 5) + "/")
        if h % 3 == 0:
            b.append("Disallow: /sec*/d/*?a=1")
        if h % 2 == 1:
            b.append("Disallow: /*7.html$")
        b.append("Allow:")
        b.append("Crawl-delay: " +
                 ("soon" if h == 9 else "2.5" if h % 4 == 1 else "2"))
        b.append("")
    b.append("User-agent: *")
    b.append("Disallow: /x-default/")
    if h == 7:
        b.append("Crawl-delay: 4")
    b.append("Sitemap: https://" + rb_host_for(h) + "/sitemap.xml")
    if h % 5 == 0:
        b.append("Sitemap: https://" + rb_host_for(h) + "/sitemap2.xml")
    if h == 10:
        b.append("Sitemap: https://" + rb_host_for(h) + "/sitemap.xml")
    if h == 3:
        # embedded whitespace -> rejected (pins the whitespace gate)
        b.append("Sitemap: https://" + rb_host_for(h) + "/sm.xml extra junk")
    if h == 5:
        b.append("")
        b.append("User-agent: graftbot")
        b.append("Disallow: /sec*/d/doc*?a=1&b=5$")
        b.append("Crawl-delay: 99")
    return eol.join(b)


# annotate-input urls pinning host extraction (mirrors RobotsGen.ExtraUrls)
RB_EXTRA_URLS = [
    "https://site1.example.org/redirect?u=https://site0.example.org/sec0/d/x",
    "https://site0.example.org/sec0/redir?to=https://site3.example.org/x-default/p",
    "site2.example.org/sec2/d/doc4.html",
]


def rb_glob(pat, s):
    """Anchored glob, '*' = any run (two-pointer backtracking scan)."""
    pi = si = 0
    star, mark = -1, 0
    while si < len(s):
        if pi < len(pat) and pat[pi] == "*":
            star, pi, mark = pi, pi + 1, si
        elif pi < len(pat) and pat[pi] == s[si]:
            pi += 1
            si += 1
        elif star >= 0:
            mark += 1
            si = mark
            pi = star + 1
        else:
            return False
    while pi < len(pat) and pat[pi] == "*":
        pi += 1
    return pi == len(pat)


def rb_pattern_matches(pattern, path):
    if not pattern:
        return False
    if pattern[-1] == "$":
        return rb_glob(pattern[:-1], path)
    return rb_glob(pattern + "*", path)


_RB_DELAY_RE = __import__("re").compile(r"^[0-9]+(\.[0-9]+)?$")


def rb_parse_body(body):
    """body -> (groups [(tokens, rules, delays)], sitemaps first-occ dedup)."""
    groups = []
    sitemaps = []
    seen_sm = set()
    if body is None:
        return groups, sitemaps
    in_ua_run = False
    for raw in body.split("\n"):
        if raw.endswith("\r"):
            raw = raw[:-1]
        hashpos = raw.find("#")
        line = raw if hashpos < 0 else raw[:hashpos]
        colon = line.find(":")
        if colon < 0:
            continue
        name = _lg_ascii_lower(_java_trim(line[:colon]))
        value = _java_trim(line[colon + 1:])
        if name == "user-agent":
            if not in_ua_run:
                groups.append(([], [], []))
                in_ua_run = True
            if value:
                groups[-1][0].append(_lg_ascii_lower(value))
        elif name in ("allow", "disallow"):
            in_ua_run = False
            if value and groups:
                groups[-1][1].append((name == "allow", value))
        elif name == "crawl-delay":
            # attaches to the current group; does NOT close the agent run
            if groups and _RB_DELAY_RE.match(value):
                groups[-1][2].append(float(value))
        elif name == "sitemap":
            # reject embedded whitespace/control bytes (ASCII-pinned
            # c <= 0x20, mirrors Robots.parseBody) -- preserves the
            # space-joined sitemaps contract in host_meta
            if any(ord(ch) <= 0x20 for ch in value):
                value = ""
            if value and value not in seen_sm:
                seen_sm.add(value)
                sitemaps.append(value)
        # unknown directives: ignored, do not close the agent run
    return groups, sitemaps


def rb_select(groups, agent):
    """Indices of the selected groups (max matching specificity)."""
    agent_lc = _lg_ascii_lower(agent)

    def spec(tokens):
        best = -1
        for t in tokens:
            if t == "*":
                best = max(best, 0)
            elif agent_lc.startswith(t):
                best = max(best, len(t))
        return best

    specs = [spec(g[0]) for g in groups]
    top = max(specs) if specs else -1
    if top < 0:
        return []
    return [i for i, sp in enumerate(specs) if sp == top]


def rb_parse(body, agent):
    """robots.txt -> selected (allow, pattern) rule list for agent."""
    groups, _ = rb_parse_body(body)
    rules = []
    for i in rb_select(groups, agent):
        rules.extend(groups[i][1])
    return rules


def rb_parse_agent(body, agent):
    """robots.txt -> (rules, crawl_delay or None, sitemaps) for agent."""
    groups, sitemaps = rb_parse_body(body)
    sel = rb_select(groups, agent)
    rules = []
    delays = []
    for i in sel:
        rules.extend(groups[i][1])
        delays.extend(groups[i][2])
    return rules, (delays[0] if delays else None), sitemaps


def rb_decide(rules, path):
    """Longest-match decision -> (allowed, winning pattern or None)."""
    best_len, best_allow, best_pat = -1, True, None
    for allow, pattern in rules:
        if rb_pattern_matches(pattern, path):
            ln = len(pattern)
            if ln > best_len or (ln == best_len and allow and not best_allow):
                best_len, best_allow, best_pat = ln, allow, pattern
    if best_len < 0:
        return (True, None)
    return (best_allow, best_pat)


def rb_path_of(url):
    sep = url.find("://")
    if sep < 0:
        return url
    rest = url[sep + 3:]
    slash = rest.find("/")
    return "/" if slash < 0 else rest[slash:]


def rb_host_of(url):
    sep = url.find("://")
    if sep < 0:
        return ""
    rest = url[sep + 3:]
    slash = rest.find("/")
    return rest if slash < 0 else rest[:slash]


def rb_annotate(urls, agent=RB_AGENT):
    """Per url: (url, host, allowed, rule, crawl_delay) under RobotsGen."""
    by_host = {}
    for h in range(13):
        body = rb_robots_txt_for(h)
        if body is not None:
            rules, delay, _ = rb_parse_agent(body, agent)
            by_host[rb_host_for(h)] = (rules, delay)
    rows = []
    for u in urls:
        host = rb_host_of(u)
        ent = by_host.get(host)
        if ent is None:
            rows.append((u, host, True, None, None))
        else:
            allowed, pat = rb_decide(ent[0], rb_path_of(u))
            rows.append((u, host, allowed, pat, ent[1]))
    return rows


def rb_hostmeta(agent=RB_AGENT):
    """Per host with a robots body: (host, crawl_delay, n_sitemaps,
    sitemaps space-joined) — mirrors graft.ops.Robots.hostMeta."""
    rows = []
    for h in range(13):
        body = rb_robots_txt_for(h)
        if body is None:
            continue
        _, delay, sitemaps = rb_parse_agent(body, agent)
        rows.append((rb_host_for(h), delay, len(sitemaps), " ".join(sitemaps)))
    return rows


# ---- sitemap XML parse (mirrors graft.ops.Sitemaps + SitemapGen) ----


def sm_xml_for(h):
    """Token-for-token mirror of SitemapGen.xmlFor (Pages.scala)."""
    host = rb_host_for(h)
    b = ['<?xml version="1.0" encoding="UTF-8"?>']
    if h % 4 == 0:
        b.append('<sitemapindex xmlns="http://www.sitemaps.org/schemas'
                 '/sitemap/0.9">')
        b.append("<sitemap>")
        b.append("<loc>https://" + host + "/sitemap-0.xml</loc>")
        b.append("<lastmod>2026-0" + str((h % 9) + 1) + "-15</lastmod>")
        b.append("</sitemap>")
        b.append("<sitemap>")
        b.append("<loc>  https://" + host + "/sitemap-1.xml\t</loc>")
        b.append("</sitemap>")
        b.append("<sitemap><lastmod>2026-01-01</lastmod></sitemap>")
        b.append("</sitemapindex>")
    else:
        b.append('<urlset xmlns="http://www.sitemaps.org/schemas'
                 '/sitemap/0.9">')
        n = 4 + (h % 3)
        for k in range(n):
            b.append("<url>")
            m = k % 6
            if m == 0:
                path = "/sec%d/d/doc%d.html" % (h % 5, h * 100 + k)
            elif m == 1:
                path = "/sec%d/p%d.html" % (h % 5, k)
            elif m == 2:
                path = "/x-default/page%d" % k
            elif m == 3:
                path = "/a%d7.html" % k
            elif m == 4:
                path = "/sec%d/d/doc%d?a=1&amp;b=5" % (h % 5, k)
            else:
                path = "/e%d&#47;x&#x41;/emoji&#x1F600;" % k
            loc = "https://" + host + path
            if k == 2:
                b.append("<loc>\n  " + loc + " \n</loc>")
            else:
                b.append("<loc>" + loc + "</loc>")
            if k % 2 == 0:
                b.append("<lastmod>2026-0%d-0%d</lastmod>"
                         % ((k % 9) + 1, (h % 9) + 1))
            if k % 3 != 1:
                b.append("<changefreq>" +
                         ["daily", "weekly", "monthly"][k % 3] +
                         "</changefreq>")
            if k % 4 == 0:
                b.append("<priority>0.%d</priority>" % (k % 10))
            elif k % 4 == 1:
                b.append("<priority>high</priority>")
            elif k % 4 == 2:
                b.append("<priority>1</priority>")
            b.append("</url>")
        if h == 8:
            b.append("<url><loc></loc></url>")
        if h == 6:
            b.append("<url><loc>https://" + host + "/never</loc>")
        b.append("</urlset>")
    return "\n".join(b)


_SM_NUM_RE = re.compile(r"[0-9]+(\.[0-9]+)?\Z")


def sm_decode_entities(s):
    """amp/lt/gt/quot/apos + decimal/hex char refs; malformed stays
    literal (mirrors Sitemaps.decodeEntities)."""
    if "&" not in s:
        return s
    out = []
    i = 0
    named = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}
    while i < len(s):
        c = s[i]
        if c != "&":
            out.append(c)
            i += 1
            continue
        semi = s.find(";", i + 1)
        if semi < 0 or semi - i > 10:
            out.append(c)
            i += 1
            continue
        body = s[i + 1:semi]
        if body in named:
            out.append(named[body])
            i = semi + 1
        elif len(body) > 1 and body[0] == "#":
            digits, radix = ((body[2:], 16)
                             if len(body) > 2 and body[1] in "xX"
                             else (body[1:], 10))
            try:
                cp = int(digits, radix) if digits else -1
            except ValueError:
                cp = -1
            if 0 <= cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                out.append(chr(cp))
                i = semi + 1
            else:
                out.append(c)
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _sm_ascii_trim(s):
    a, b = 0, len(s)
    while a < b and s[a] <= " ":
        a += 1
    while b > a and s[b - 1] <= " ":
        b -= 1
    return s[a:b]


def _sm_tag_text(block, tag):
    at = block.find("<" + tag + ">")
    if at < 0:
        return None
    start = at + len(tag) + 2
    end = block.find("</" + tag + ">", start)
    if end < 0:
        return None
    return sm_decode_entities(_sm_ascii_trim(block[start:end]))


FD_HREF_RE = re.compile(r"\bhref[ \t\n\r\f]*=[ \t\n\r\f]*(\"([^\"]*)\"|'([^']*)')")


def fd_xml_for(doc_id, text):
    """Mirror of graft.catalog.IngestQueries.feedXml — the RSS/Atom fixture."""
    toks = [w for w in (text or "").split(" ") if w]

    def tk(i):
        return toks[i % len(toks)] if toks else "lorem"

    p = []
    if doc_id % 2 == 0:
        p.append('<?xml version="1.0"?><rss version="2.0"><channel>'
                 "<title>Feed %d</title>" % doc_id)
        p.append("<item><title>%s &amp; %s</title><link>https://ex.org/%d"
                 "/0</link><guid>g%d-0</guid><pubDate>Mon, 0%d Jan 2026"
                 "</pubDate></item>"
                 % (tk(0), tk(1), doc_id, doc_id, doc_id % 7))
        p.append("<item><title>%s &#x2014; %s</title><link> "
                 "https://ex.org/%d/1 </link></item>"
                 % (tk(2), tk(3), doc_id))
        if doc_id % 3 == 0:
            p.append("<item><title>no link item</title></item>")
        p.append("<item><link>https://ex.org/%d/2</link></item>" % doc_id)
        if doc_id % 7 == 0:
            p.append("<item><title>unterminated")
        p.append("</channel></rss>")
    else:
        p.append('<?xml version="1.0"?>'
                 '<feed xmlns="http://www.w3.org/2005/Atom">'
                 "<title>Feed %d</title>" % doc_id)
        p.append('<entry><title>%s &amp; %s</title><link href="https://'
                 'ex.org/%d/a"/><id>tag:%d:a</id><updated>2026-01-0%d'
                 "</updated></entry>"
                 % (tk(0), tk(1), doc_id, doc_id, doc_id % 9 + 1))
        p.append("<entry><title>%s</title><link rel=\"alternate\" "
                 "href='https://ex.org/%d/b'/></entry>" % (tk(2), doc_id))
        if doc_id % 3 == 0:
            p.append("<entry><title>no link</title></entry>")
        p.append('<entry><link href="https://ex.org/%d/c"/></entry>' % doc_id)
        if doc_id % 7 == 0:
            p.append("<entry><title>unterminated")
        p.append("</feed>")
    return "".join(p)


def fd_atom_href(block):
    # a delimiter (ASCII ws, '>', '/', or end) must follow "<link" so a
    # longer tag name starting with "link" is never harvested (ADVICE r6
    # low #2; mirrors Feeds.atomLinkHref)
    at = block.find("<link")
    while at >= 0:
        d = at + 5
        delimited = d >= len(block) or block[d] in " \t\n\r\f>/"
        if delimited:
            gt = block.find(">", at)
            tag = block[at:] if gt < 0 else block[at:gt]
            m = FD_HREF_RE.search(tag)
            if not m:
                return None
            v = m.group(2) if m.group(2) is not None else m.group(3)
            return sm_decode_entities(_sm_ascii_trim(v))
        at = block.find("<link", at + 1)
    return None


def fd_parse(xml):
    """-> (kind, [(seq, title, link, entry_id, published)]); clean-room
    mirror of Feeds.parseFeed."""
    if xml is None:
        return "", []
    i_rss = xml.find("<rss")
    i_atom = xml.find("<feed")
    if i_rss < 0 and i_atom < 0:
        return "", []
    kind = "rss" if (i_atom < 0 or (0 <= i_rss < i_atom)) else "atom"
    tag = "item" if kind == "rss" else "entry"

    def mk(seq, block):
        link = (_sm_tag_text(block, "link") if kind == "rss"
                else fd_atom_href(block))
        if not link:
            return None
        return (seq,
                _sm_tag_text(block, "title"),
                link,
                _sm_tag_text(block, "guid" if kind == "rss" else "id"),
                _sm_tag_text(block,
                             "pubDate" if kind == "rss" else "updated"))

    return kind, _sm_scan_blocks(xml, tag, mk)


def _sm_scan_blocks(xml, tag, mk):
    """Shared damage-semantics block scanner (mirrors
    Sitemaps.scanBlocks): <tag> blocks in order, unterminated stops,
    mk returning None skips (no seq consumed)."""
    open_t, close_t = "<" + tag + ">", "</" + tag + ">"
    out = []
    pos = xml.find(open_t)
    seq = 0
    while pos >= 0:
        start = pos + len(open_t)
        end = xml.find(close_t, start)
        if end < 0:
            break  # unterminated block: damage, stop
        row = mk(seq, xml[start:end])
        if row is not None:
            out.append(row)
            seq += 1
        pos = xml.find(open_t, end + len(close_t))
    return out


def sm_parse(xml):
    """-> (kind, [(seq, loc, lastmod, changefreq, priority)]); clean-room
    mirror of Sitemaps.parseSitemap."""
    if xml is None:
        return "", []
    i_us = xml.find("<urlset")
    i_ix = xml.find("<sitemapindex")
    if i_us < 0 and i_ix < 0:
        return "", []
    kind = ("urlset" if i_ix < 0 or (0 <= i_us < i_ix) else "sitemapindex")
    block_tag = "url" if kind == "urlset" else "sitemap"

    def mk(seq, block):
        loc = _sm_tag_text(block, "loc")
        if not loc:
            return None
        pr = _sm_tag_text(block, "priority") if kind == "urlset" else None
        return (seq, loc, _sm_tag_text(block, "lastmod"),
                (_sm_tag_text(block, "changefreq")
                 if kind == "urlset" else None),
                (float(pr) if pr is not None
                 and _SM_NUM_RE.match(pr) else None))

    return kind, _sm_scan_blocks(xml, block_tag, mk)


def sm_rows():
    """One row per entry over all 13 hosts (mirrors Sitemaps.parse over
    SitemapGen.rows): (host, kind, seq, loc, lastmod, changefreq,
    priority)."""
    rows = []
    for h in range(13):
        host = rb_host_for(h)
        kind, entries = sm_parse(sm_xml_for(h))
        for (seq, loc, lastmod, cf, pr) in entries:
            rows.append((host, kind, seq, loc, lastmod, cf, pr))
    return rows


def sm_seeds(agent=RB_AGENT):
    """urlset locs, distinct, robots-gated (mirrors Sitemaps.seeds):
    allowed rows only as (url, host, crawl_delay)."""
    urls = sorted({r[3] for r in sm_rows() if r[1] == "urlset"})
    return [(url, host, delay)
            for (url, host, allowed, rule, delay) in rb_annotate(urls, agent)
            if allowed]


# ---- head-metadata extraction (mirrors graft.ops.HtmlMeta + MetaGen) ----

HM_LANGS = ["en", "de", "fr", "la", ""]


def hm_esc_attr(s):
    return escape_html(s).replace('"', "&quot;").replace("'", "&#39;")


def hm_page_html(doc_id, text):
    """Token-for-token mirror of MetaGen.pageHtml (Pages.scala)."""
    words = [w for w in (text or "").split(" ") if w]

    def first(k):
        return " ".join(words[:k])

    i = doc_id
    out = []
    lang = HM_LANGS[i % 5]
    if lang == "":
        out.append("<html>\n")
    elif i % 2 == 1:
        out.append("<HTML LANG='" + lang + "'>\n")
    else:
        out.append('<html lang="' + lang + '">\n')
    out.append("<head>\n")
    out.append('<meta charset="utf-8">\n' if i % 2 == 0
               else "<META CHARSET=utf-8>\n")
    if i % 7 != 3:
        out.append("<TiTLe>Doc &quot;" + str(i) + "&quot; — " +
                   escape_html(first(3)) + "</tItLe>\n")
    if i % 3 != 1:
        d = hm_esc_attr(first(8))
        if i % 2 == 0:
            out.append('<meta name="description" content="' + d +
                       ' &amp; more">\n')
        else:
            out.append("<meta content='" + d +
                       " &amp; more' name='Description'>\n")
    if i % 4 == 0:
        out.append('<meta property="og:title" content="OG ' +
                   hm_esc_attr(first(2)) + '">\n')
    if i % 5 != 2:
        if i % 2 == 0:
            out.append('<link rel="canonical" href="' + url_for(i) + '">\n')
        else:
            out.append("<link href=/c/doc" + str(i) + ".html rel=canonical>\n")
    out.append("</head>\n<body>\n<p>" + escape_html(first(5)) + "</p>\n")
    out.append("<title>decoy title</title>\n</body></html>")
    return "".join(out)


def _hm_is_ws(c):
    return c in " \t\n\r"


def hm_index_of_ic(s, needle, from_):
    """ASCII-ci find (needle lowercase) — mirror of the Scala scan."""
    i = max(from_, 0)
    n = len(needle)
    sl = len(s)
    while i + n <= sl:
        j = 0
        while j < n:
            c = s[i + j]
            if "A" <= c <= "Z":
                c = chr(ord(c) + 32)
            if c != needle[j]:
                break
            j += 1
        else:
            return i
        i += 1
    return -1


def hm_attrs_of(tag_body):
    out = {}
    i = 0
    n = len(tag_body)
    while i < n and not _hm_is_ws(tag_body[i]):
        i += 1
    while i < n:
        while i < n and _hm_is_ws(tag_body[i]):
            i += 1
        if i >= n:
            return out
        if tag_body[i] == "/":
            i += 1
            continue
        name_start = i
        while i < n and not _hm_is_ws(tag_body[i]) and tag_body[i] != "=":
            i += 1
        name = _lg_ascii_lower(tag_body[name_start:i])
        while i < n and _hm_is_ws(tag_body[i]):
            i += 1
        value = ""
        if i < n and tag_body[i] == "=":
            i += 1
            while i < n and _hm_is_ws(tag_body[i]):
                i += 1
            if i < n and tag_body[i] in "\"'":
                q = tag_body[i]
                end = tag_body.find(q, i + 1)
                if end < 0:
                    value = tag_body[i + 1:]
                    i = n
                else:
                    value = tag_body[i + 1:end]
                    i = end + 1
            else:
                vs = i
                while i < n and not _hm_is_ws(tag_body[i]):
                    i += 1
                value = tag_body[vs:i]
        if name and name not in out:
            out[name] = value
    return out


def hm_tags_of(region, name):
    needle = "<" + name
    from_ = 0
    while True:
        a = hm_index_of_ic(region, needle, from_)
        if a < 0:
            return
        after = a + len(needle)
        if after < len(region) and (
                _hm_is_ws(region[after]) or region[after] in ">/"):
            gt = region.find(">", a)
            if gt < 0:
                return
            from_ = gt + 1
            yield region[a + 1:gt]
        else:
            from_ = after


def hm_clean_text(s):
    return lg_collapse_ws(decode_entities(lg_strip_tags(s)))


def hm_parse(html, page_url):
    """Mirror of HtmlMeta.parse -> (title, description, og_title,
    canonical, lang), each None when absent."""
    if html is None:
        return (None, None, None, None, None)
    head_end = hm_index_of_ic(html, "</head>", 0)
    region = html if head_end < 0 else html[:head_end]

    title = None
    from_ = 0
    while True:
        a = hm_index_of_ic(region, "<title", from_)
        if a < 0:
            break
        after = a + 6
        valid = after < len(region) and (
            _hm_is_ws(region[after]) or region[after] in ">/")
        if not valid:
            from_ = after
            continue
        gt = region.find(">", a)
        close = -1 if gt < 0 else hm_index_of_ic(region, "</title>", gt + 1)
        if close >= 0:
            t = hm_clean_text(region[gt + 1:close])
            if t:
                title = t
        break

    description = None
    og_title = None
    for body in hm_tags_of(region, "meta"):
        attrs = hm_attrs_of(body)
        name_lc = _lg_ascii_lower(attrs.get("name", ""))
        prop_lc = _lg_ascii_lower(attrs.get("property", ""))
        if description is None and "name" in attrs and name_lc == "description":
            v = hm_clean_text(attrs.get("content", ""))
            if v:
                description = v
        if og_title is None and "property" in attrs and prop_lc == "og:title":
            v = hm_clean_text(attrs.get("content", ""))
            if v:
                og_title = v

    canonical = None
    for body in hm_tags_of(region, "link"):
        attrs = hm_attrs_of(body)
        if "rel" in attrs and _lg_ascii_lower(attrs["rel"]) == "canonical":
            # the FIRST rel=canonical decides (even if href is missing or
            # unresolvable); Java-trim semantics, not Unicode strip
            href = decode_entities(_java_trim(attrs.get("href", "")))
            canonical = lg_resolve(page_url, href)
            break

    lang = None
    for body in hm_tags_of(region, "html"):
        v = _lg_ascii_lower(_java_trim(hm_attrs_of(body).get("lang", "")))
        if v:
            lang = v
        break

    return (title, description, og_title, canonical, lang)


def hm_rows(doc_items):
    rows = []
    for i, t in doc_items:
        url = url_for(i)
        html = hm_page_html(i, t)
        title, desc, og, canon, lang = hm_parse(html, url)
        rows.append((i, url, title, desc, og, canon, lang))
    return rows


# ---- charset sniff + decode (mirrors graft.ops.CharsetSniff + CharsetGen) --

CS_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "windows-1252": "windows-1252", "cp1252": "windows-1252",
    "us-ascii": "windows-1252",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}


def cs_ascii_slice(text):
    words = [w for w in (text or "").split(" ") if w][:6]
    return "".join(c for c in " ".join(words) if " " <= c <= "~")


def _cs_doc(meta, body):
    return ("<html><head>" + meta + "</head><body><p>" + body +
            "</p></body></html>")


def cs_payload(doc_id, text):
    """Token-for-token mirror of CharsetGen.payload (Pages.scala)."""
    slice_ = cs_ascii_slice(text)
    wide = slice_ + " café №✓"
    narrow = slice_ + " café ±½"
    m = doc_id % 4
    if m == 0:
        b = _cs_doc('<meta charset="utf-8">', wide).encode("utf-8")
        return (b"\xef\xbb\xbf" + b) if doc_id % 8 == 0 else b
    if m == 1:
        s = _cs_doc("", wide)
        if doc_id % 8 == 1:
            return b"\xfe\xff" + s.encode("utf-16-be")
        return b"\xff\xfe" + s.encode("utf-16-le")
    if m == 2:
        return _cs_doc('<meta http-equiv="Content-Type" content="text/html; '
                       'charset=iso-8859-1">', narrow).encode("cp1252")
    return _cs_doc("<META CHARSET=WINDOWS-1252>", narrow).encode("cp1252")


def cs_charset_param(content_type):
    lc = _lg_ascii_lower(content_type)
    at = lc.find("charset=")
    if at < 0:
        return None
    v = content_type[at + 8:]
    semi = v.find(";")
    if semi >= 0:
        v = v[:semi]
    v = _java_trim(v)
    if len(v) >= 2 and v[0] in "\"'" and v[-1] == v[0]:
        v = v[1:-1]
    return v if v else None


def cs_sniff(data):
    """(charset, bom_len) per the pinned WHATWG-subset sniff."""
    if data is None:
        return ("windows-1252", 0)
    if data[:3] == b"\xef\xbb\xbf":
        return ("utf-8", 3)
    if data[:2] == b"\xff\xfe":
        return ("utf-16le", 2)
    if data[:2] == b"\xfe\xff":
        return ("utf-16be", 2)
    prefix = data[:1024].decode("iso-8859-1")
    for body in hm_tags_of(prefix, "meta"):
        attrs = hm_attrs_of(body)
        label = attrs.get("charset")
        if label is None and "http-equiv" in attrs and \
                _lg_ascii_lower(attrs["http-equiv"]) == "content-type":
            label = cs_charset_param(attrs.get("content", ""))
        if label is not None:
            cs = CS_LABELS.get(_lg_ascii_lower(_java_trim(label)))
            if cs is not None:
                return (cs, 0)
    return ("windows-1252", 0)


def cs_decode(data):
    """(charset, had_bom, text) — mirror of CharsetSniff.decode."""
    cs, bom = cs_sniff(data)
    if data is None:
        return (cs, False, "")
    codec = {"utf-8": "utf-8", "utf-16le": "utf-16-le",
             "utf-16be": "utf-16-be", "windows-1252": "cp1252"}[cs]
    return (cs, bom > 0, data[bom:].decode(codec, errors="replace"))


def cs_rows(doc_items):
    rows = []
    for i, t in doc_items:
        cs, bom, text = cs_decode(cs_payload(i, t))
        rows.append((i, cs, bom, len(text), text[:48]))
    return rows


# ---- HTTP payloads in WARC records (mirrors Warc.httpParse/recordsHttp
#      + pipeline.HttpGen) ----


def cs_decode_transport(data, label):
    """(charset, had_bom, text) with a transport charset label: BOM >
    transport > meta prescan > default (mirrors
    CharsetSniff.decodeWithTransport)."""
    if data is None:
        return ("windows-1252", False, "")
    bom_cs = None
    if data[:3] == b"\xef\xbb\xbf":
        bom_cs, bom = "utf-8", 3
    elif data[:2] == b"\xff\xfe":
        bom_cs, bom = "utf-16le", 2
    elif data[:2] == b"\xfe\xff":
        bom_cs, bom = "utf-16be", 2
    if bom_cs is None:
        cs = (CS_LABELS.get(_lg_ascii_lower(_java_trim(label)))
              if label is not None else None)
        if cs is None:
            return cs_decode(data)
        bom = 0
    else:
        cs = bom_cs
    codec = {"utf-8": "utf-8", "utf-16le": "utf-16-le",
             "utf-16be": "utf-16-be", "windows-1252": "cp1252"}[cs]
    return (cs, bom > 0, data[bom:].decode(codec, errors="replace"))


def http_parse(payload):
    """None, or (status, mime, charset, body) — mirrors Warc.httpParse."""
    if payload is None or len(payload) < 12 or payload[:5] != b"HTTP/":
        return None
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None
    head = payload[:sep].decode("iso-8859-1")
    lines = head.split("\r\n")
    status0 = lines[0]
    sp1 = status0.find(" ")
    if sp1 < 0 or sp1 + 4 > len(status0):
        return None
    code = status0[sp1 + 1:sp1 + 4]
    if not all("0" <= c <= "9" for c in code):
        return None
    if sp1 + 4 < len(status0) and status0[sp1 + 4] != " ":
        return None
    mime, charset = "", ""
    for line in lines[1:]:
        colon = line.find(":")
        if colon > 0 and _lg_ascii_lower(
                _java_trim(line[:colon])) == "content-type":
            value = _java_trim(line[colon + 1:])
            semi = value.find(";")
            mime = _lg_ascii_lower(
                _java_trim(value if semi < 0 else value[:semi]))
            charset = cs_charset_param(value) or ""
            break  # first Content-Type wins
    return (int(code), mime, charset, payload[sep + 4:])


def http_response_payload(doc_id, text):
    """Token-for-token mirror of HttpGen.responsePayload."""
    if doc_id % 13 == 6:
        return cs_payload(doc_id, text)  # raw fallback, no http wrapper
    if doc_id % 7 == 3:
        status = "HTTP/1.1 404 Not Found"
        ctype = "Content-Type: text/html\r\n"
        body = b"<html><body>not found</body></html>"
    elif doc_id % 11 == 5:
        status = "HTTP/1.1 301 Moved Permanently"
        ctype = ("Content-Type: text/html\r\nLocation: " +
                 url_for(doc_id + 1) + "\r\n")
        body = b""
    else:
        status = "HTTP/1.1 200 OK"
        m4 = doc_id % 4
        if m4 == 2:
            ctype = "Content-Type: text/html\r\n"
        elif m4 == 3:
            ctype = "Content-Type: text/html; charset=windows-1252\r\n"
        elif m4 == 0:
            m3 = doc_id % 3
            if m3 == 0:
                ctype = "Content-Type: text/html; charset=utf-8\r\n"
            elif m3 == 1:
                ctype = ""
            else:
                ctype = "Content-Type: text/html; charset=iso-8859-1\r\n"
        else:
            ctype = "Content-Type: text/html; charset=utf-8\r\n"
        body = cs_payload(doc_id, text)
    head = (status + "\r\nServer: graft-fixture\r\n" + ctype +
            "Content-Length: %d\r\n\r\n" % len(body))
    return head.encode("ascii") + body


def http_request_payload(doc_id):
    return ("GET /doc/%d HTTP/1.1\r\nHost: example.org\r\n"
            "User-Agent: graftbot\r\n\r\n" % doc_id).encode("ascii")


def http_revisit_payload(doc_id):
    return b"HTTP/1.1 200 OK\r\nContent-Length: 0\r\n\r\n"


def http_warc_archive(pages):
    """pages: [(doc_id, text)] doc_id order -> archive with request/
    response/revisit variety (mirrors SparkEntry.httpWarcArchives)."""
    parts = []

    def rec(rec_type, doc_id, payload):
        header = ("WARC/1.0\r\nWARC-Type: %s\r\n"
                  "WARC-Target-URI: %s\r\nWARC-Date: %s\r\n"
                  "Content-Length: %d\r\n\r\n"
                  % (rec_type, url_for(doc_id), warc_date(doc_id),
                     len(payload)))
        parts.append(header.encode("ascii"))
        parts.append(payload)
        parts.append(b"\r\n\r\n")

    for doc_id, text in pages:
        if doc_id % 5 == 0:
            rec("request", doc_id, http_request_payload(doc_id))
        rec("response", doc_id, http_response_payload(doc_id, text))
        if doc_id % 9 == 2:
            rec("revisit", doc_id, http_revisit_payload(doc_id))
    return b"".join(parts)


def http_rows(pages, archive_id):
    """One row per RESPONSE record (mirrors Warc.recordsHttp)."""
    rows = []
    blob = http_warc_archive(pages)
    for (off, rt, uri, _dt, _cl, payload) in warc_parse(blob):
        if rt != "response":
            continue
        h = http_parse(payload)
        if h is not None:
            status, mime, charset, body = h
            cs, bom, text = cs_decode_transport(body, charset or None)
            rows.append((archive_id, off, uri, status, mime, cs, bom,
                         len(text), text[:48]))
        else:
            cs, bom, text = cs_decode(payload)
            rows.append((archive_id, off, uri, None, None, cs, bom,
                         len(text), text[:48]))
    return rows


# ---- interpolated Kneser-Ney trigram (mirrors graft.ops.NgramLm kn*) ----

KN_D = 0.75


def kn_train(texts):
    """-> model dict with the same derived tables as NgramLm.KnModel."""
    tri = {}
    bi = set()
    vocab = set()
    for t in texts:
        ws = [w for w in (t or "").split(" ") if w]
        vocab.update(ws)
        for i in range(len(ws) - 1):
            bi.add((ws[i], ws[i + 1]))
        for i in range(len(ws) - 2):
            k = (ws[i], ws[i + 1], ws[i + 2])
            tri[k] = tri.get(k, 0) + 1
    s3 = {}
    t3 = {}
    mid = {}
    for (a, b, c), n in tri.items():
        s3[(a, b)] = s3.get((a, b), 0) + n
        t3[(a, b)] = t3.get((a, b), 0) + 1
        mid[(b, c)] = mid.get((b, c), 0) + 1
    mid_ctx = {}
    mid_u = {}
    for (b, c), n in mid.items():
        mid_ctx[b] = mid_ctx.get(b, 0) + n
        mid_u[b] = mid_u.get(b, 0) + 1
    cont = {}
    for (_b, c) in bi:
        cont[c] = cont.get(c, 0) + 1
    return {"tri": tri, "s3": s3, "t3": t3, "mid": mid, "mid_ctx": mid_ctx,
            "mid_u": mid_u, "cont": cont, "b_types": len(bi),
            "v": len(vocab), "vocab": vocab}


def kn_p1(c, m):
    n = m["cont"].get(c, 0) if c is not None else 0
    return (n + 1) / (m["b_types"] + m["v"] + 1)


def kn_p2(b, c, m):
    ctx = m["mid_ctx"].get(b, 0) if b is not None else 0
    if ctx == 0:
        return kn_p1(c, m)
    nbc = m["mid"].get((b, c), 0) if (b is not None and c is not None) else 0
    u = m["mid_u"].get(b, 0)
    return max(nbc - KN_D, 0.0) / ctx + KN_D * u / ctx * kn_p1(c, m)


def kn_p3(a, b, c, m):
    s = m["s3"].get((a, b), 0) if (a is not None and b is not None) else 0
    if s == 0:
        return kn_p2(b, c, m)
    c3 = m["tri"].get((a, b, c), 0) if c is not None else 0
    t = m["t3"].get((a, b), 0)
    return max(c3 - KN_D, 0.0) / s + KN_D * t / s * kn_p2(b, c, m)


def kn_score(text, m):
    ws = [w for w in (text or "").split(" ") if w]
    mapped = [w if w in m["vocab"] else None for w in ws]
    bits = 0.0
    for i in range(2, len(mapped)):
        bits += -lm_log2(kn_p3(mapped[i - 2], mapped[i - 1], mapped[i], m))
    return (len(ws), bits)


def kn_rows(doc_items):
    train = [t for i, t in doc_items if i % 7 == 0]
    m = kn_train(train)
    rows = []
    for i, t in doc_items:
        n, bits = kn_score(t, m)
        trans = max(0, n - 2)
        rows.append((i, n, trans, bits,
                     bits / trans if trans > 0 else 0.0))
    return rows


# ---- logistic-regression training (mirrors graft.ops.Classifier train) ----

CLS_LN2 = 0.6931471805599453
CLS_INV_LN2 = 1.4426950408889634


def cls_exp(x):
    """Portable exp — exponent split + 13-term Taylor Horner, mirror of
    Classifier.expPortable (bit-identical IEEE ops)."""
    k = math.floor(x * CLS_INV_LN2 + 0.5)
    r = x - k * CLS_LN2
    s = 1.0 / 479001600.0
    s = s * r + 1.0 / 39916800.0
    s = s * r + 1.0 / 3628800.0
    s = s * r + 1.0 / 362880.0
    s = s * r + 1.0 / 40320.0
    s = s * r + 1.0 / 5040.0
    s = s * r + 1.0 / 720.0
    s = s * r + 1.0 / 120.0
    s = s * r + 1.0 / 24.0
    s = s * r + 1.0 / 6.0
    s = s * r + 0.5
    s = s * r + 1.0
    s = s * r + 1.0
    return math.ldexp(s, int(k))


def cls_sigmoid(z):
    if z > 30.0:
        z = 30.0
    elif z < -30.0:
        z = -30.0
    return 1.0 / (1.0 + cls_exp(-z))


def cls_features(text):
    """Sorted (bucket, tf) — mirror of Classifier.featuresOf."""
    toks = [t for t in (text or "").split(" ") if t]
    counts = {}
    for i, t in enumerate(toks):
        b = string_hash64(t) & (CLS_DIM - 1)
        counts[b] = counts.get(b, 0) + 1
        if i + 1 < len(toks):
            b2 = string_hash64(t + " " + toks[i + 1]) & (CLS_DIM - 1)
            counts[b2] = counts.get(b2, 0) + 1
    return sorted(counts.items())


def _cls_dot(w, bias, feats):
    z = bias
    for b, tf in feats:
        wb = w.get(b, 0.0)
        if wb != 0.0:
            z += wb * tf
    return z


def cls_train(feats_list, ys, epochs=20, lr=1.0):
    """Pinned full-batch logistic regression — mirror of trainLocal."""
    nd = float(len(feats_list))
    w = {}
    bias = 0.0
    for _ in range(epochs):
        grad = {}
        g_bias = 0.0
        for feats, y in zip(feats_list, ys):
            e = cls_sigmoid(_cls_dot(w, bias, feats)) - y
            for b, tf in feats:
                grad[b] = grad.get(b, 0.0) + e * tf
            g_bias += e
        for b in sorted(grad):
            w[b] = w.get(b, 0.0) - lr * (grad[b] / nd)
        bias -= lr * (g_bias / nd)
    return w, bias


def cls_train_rows(doc_items, langs):
    """Train on y = (lang == 'en') over the whole corpus (docs sorted by
    id), then predict every doc: (doc_id, y, p, pred, correct)."""
    rows = sorted(zip(doc_items, langs), key=lambda x: x[0][0])
    feats = [cls_features(t) for (_i, t), _l in rows]
    ys = [1.0 if l == "en" else 0.0 for _it, l in rows]
    w, bias = cls_train(feats, ys)
    out = []
    for ((i, _t), l), f in zip(rows, feats):
        p = cls_sigmoid(_cls_dot(w, bias, f))
        pred = 1 if p >= 0.5 else 0
        y = 1 if l == "en" else 0
        out.append((i, y, p, pred, pred == y))
    return out


# ---- mixed-language detection (q_sent_langid composition mirror) ----

def sent_langid_rows(doc_items):
    """sentences x per-sentence lang_id -> per-doc plurality + purity."""
    rows = []
    for i, t in doc_items:
        f = sent_fixture(i, t)
        sents = sent_split(f) if f is not None else []
        langs = [lang_id(x) for x in sents]
        n = len(langs)
        if n == 0:
            rows.append((i, 0, "und", 0.0, 0))
        else:
            counts = {}
            for l in langs:
                counts[l] = counts.get(l, 0) + 1
            main, c = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            rows.append((i, n, main, c / n, len(counts)))
    return rows


# ---- PDF text extraction (mirrors graft.ops.Pdf + pipeline.PdfGen) ----

import zlib


def _pdf_is_ws(c):
    return c in " \t\n\r\f\x00"


def pdf_literal_string(s, start):
    """Decode a (...) literal starting AT '('; -> (decoded, index after)."""
    out = []
    depth = 1
    i = start + 1
    n = len(s)
    while i < n and depth > 0:
        c = s[i]
        if c == "\\" and i + 1 < n:
            e = s[i + 1]
            if e == "n":
                out.append("\n"); i += 2
            elif e == "r":
                out.append("\r"); i += 2
            elif e == "t":
                out.append("\t"); i += 2
            elif e == "b":
                out.append("\b"); i += 2
            elif e == "f":
                out.append("\f"); i += 2
            elif e in "()\\":
                out.append(e); i += 2
            elif e == "\n":
                i += 2
            elif e == "\r":
                i += 2
                if i < n and s[i] == "\n":
                    i += 1
            elif "0" <= e <= "7":
                v = 0
                k = 0
                i += 1
                while k < 3 and i < n and "0" <= s[i] <= "7":
                    v = v * 8 + (ord(s[i]) - 48)
                    i += 1
                    k += 1
                out.append(chr(v & 0xFF))
            else:
                out.append(e); i += 2
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth > 0:
                out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    return ("".join(out), i)


def pdf_hex_string(s, start):
    out = []
    i = start + 1
    hi = -1
    n = len(s)
    while i < n and s[i] != ">":
        c = s[i]
        v = -1
        if "0" <= c <= "9":
            v = ord(c) - 48
        elif "a" <= c <= "f":
            v = ord(c) - 87
        elif "A" <= c <= "F":
            v = ord(c) - 55
        if v >= 0:
            if hi < 0:
                hi = v
            else:
                out.append(chr((hi << 4) | v))
                hi = -1
        i += 1
    if hi >= 0:
        out.append(chr(hi << 4))
    return ("".join(out), i + 1 if i < n else i)


_PDF_DELIM = "()<>[]{}/%"


def pdf_lzw_decode(data):
    """PDF LZW inflate (EarlyChange=1): MSB-first, 9->12-bit codes, 256
    clear / 257 EOD; decoder width bumps when the next assignable code
    reaches 2^width - 1. Damage -> None. Mirrors Pdf.lzwDecode."""
    if data is None:
        return None
    out = bytearray()
    table = []

    def reset():
        table.clear()
        for i in range(256):
            table.append(bytes([i]))
        table.append(None)  # 256 clear
        table.append(None)  # 257 EOD

    reset()
    width = 9
    prev = None
    acc = 0
    bits = 0
    idx = 0
    while True:
        while bits < width and idx < len(data):
            acc = (acc << 8) | data[idx]
            bits += 8
            idx += 1
        if bits < width:
            break  # ran out without EOD: accept prefix
        code = (acc >> (bits - width)) & ((1 << width) - 1)
        bits -= width
        if code == 256:
            reset()
            width = 9
            prev = None
        elif code == 257:
            break
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                return None
            if entry is None:
                return None
            out.extend(entry)
            # 12-bit code space holds indices 0..4095 -> table may grow
            # to 4096 entries (code 4095 is legal), then freezes
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
            prev = entry
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
    return bytes(out)


def pdf_lzw_encode(data):
    """Matching encoder (fixture synthesis): clear up front, clear again
    at next==3000; width bumps when next reaches 2^width (one add later
    than the decoder — the EarlyChange pairing). Mirrors Pdf.lzwEncode."""
    out = bytearray()
    state = {"acc": 0, "bits": 0, "width": 9}

    def emit(code):
        state["acc"] = (state["acc"] << state["width"]) | code
        state["bits"] += state["width"]
        while state["bits"] >= 8:
            out.append((state["acc"] >> (state["bits"] - 8)) & 0xFF)
            state["bits"] -= 8

    dict_ = {}
    nxt = [258]

    def reset_dict():
        dict_.clear()
        for i in range(256):
            dict_[bytes([i])] = i
        nxt[0] = 258
        state["width"] = 9

    emit(256)
    reset_dict()
    cur = b""
    for bidx in range(len(data)):
        b = data[bidx:bidx + 1]
        w = cur + b
        if w in dict_:
            cur = w
        else:
            emit(dict_[cur])
            dict_[w] = nxt[0]
            nxt[0] += 1
            if nxt[0] == (1 << state["width"]) and state["width"] < 12:
                state["width"] += 1
            if nxt[0] == 3000:
                emit(256)
                reset_dict()
            cur = b
    if cur:
        emit(dict_[cur])
    emit(257)
    if state["bits"] > 0:
        out.append((state["acc"] << (8 - state["bits"])) & 0xFF)
    return bytes(out)


def _pdf_utf16be(raw, start):
    """UTF-16BE decode of byte-chars (surrogates pass through; dangling
    byte drops). Python strings are code points, so a surrogate pair is
    combined explicitly (matching the JVM's UTF-16 representation)."""
    units = []
    i = start
    while i + 1 < len(raw):
        units.append((ord(raw[i]) << 8) | ord(raw[i + 1]))
        i += 2
    out = []
    j = 0
    while j < len(units):
        u = units[j]
        if 0xD800 <= u <= 0xDBFF and j + 1 < len(units) and \
                0xDC00 <= units[j + 1] <= 0xDFFF:
            out.append(chr(0x10000 + ((u - 0xD800) << 10) +
                           (units[j + 1] - 0xDC00)))
            j += 2
        else:
            out.append(chr(u))
            j += 1
    return "".join(out)


def pdf_decode_shown(raw, cmap):
    """BOM'd UTF-16BE -> text; else CMap codes (identity fallback); else
    byte-transparent. Mirrors Pdf.decodeShownString (cmap: (code_bytes,
    {code: text}) or None)."""
    if len(raw) >= 2 and ord(raw[0]) == 0xFE and ord(raw[1]) == 0xFF:
        return _pdf_utf16be(raw, 2)
    if cmap is None:
        return raw
    code_bytes, mp = cmap
    out = []
    if code_bytes == 1:
        for ch in raw:
            code = ord(ch)
            out.append(mp.get(code, chr(code)))
    else:
        i = 0
        while i + 1 < len(raw):  # dangling byte drops
            code = (ord(raw[i]) << 8) | ord(raw[i + 1])
            out.append(mp.get(code, chr(code)))
            i += 2
    return "".join(out)


def _pdf_hex_at(s, from_, limit):
    i = from_
    while i < limit and s[i] != "<":
        i += 1
    if i >= limit:
        return None, limit
    e = s.find(">", i + 1)
    if e < 0 or e > limit:
        return None, limit
    return "".join(c for c in s[i + 1:e] if not _pdf_is_ws(c)), e + 1


def _pdf_hex_to_utf16(h):
    units = []
    i = 0
    while i + 3 < len(h):
        try:
            units.append(int(h[i:i + 4], 16))
        except ValueError:
            pass
        i += 4
    if i + 1 < len(h):
        try:
            units.append(int(h[i:i + 2], 16))
        except ValueError:
            pass
    # combine surrogate pairs like the JVM string would
    out = []
    j = 0
    while j < len(units):
        u = units[j]
        if 0xD800 <= u <= 0xDBFF and j + 1 < len(units) and \
                0xDC00 <= units[j + 1] <= 0xDFFF:
            out.append(chr(0x10000 + ((u - 0xD800) << 10) +
                           (units[j + 1] - 0xDC00)))
            j += 2
        else:
            out.append(chr(u))
            j += 1
    return "".join(out)


def _pdf_bump_last(base, k):
    """Scalar bfrange dst: increment the LAST UTF-16 code unit by k."""
    if not base:
        return ""
    # operate on UTF-16 code units (JVM semantics): re-encode
    units = []
    for ch in base:
        cp = ord(ch)
        if cp > 0xFFFF:
            cp -= 0x10000
            units.append(0xD800 + (cp >> 10))
            units.append(0xDC00 + (cp & 0x3FF))
        else:
            units.append(cp)
    units[-1] = (units[-1] + k) & 0xFFFF
    out = []
    j = 0
    while j < len(units):
        u = units[j]
        if 0xD800 <= u <= 0xDBFF and j + 1 < len(units) and \
                0xDC00 <= units[j + 1] <= 0xDFFF:
            out.append(chr(0x10000 + ((u - 0xD800) << 10) +
                           (units[j + 1] - 0xDC00)))
            j += 2
        else:
            out.append(chr(u))
            j += 1
    return "".join(out)


def pdf_parse_cmap(s):
    """Tolerant bfchar/bfrange scan -> (code_bytes, {code: text}).
    Mirrors Pdf.parseCMap."""
    mp = {}
    code_bytes = [0]

    def note_width(src):
        if code_bytes[0] == 0 and src:
            code_bytes[0] = max(1, min(2, len(src) // 2))

    def hex_to_int(h):
        try:
            return int(h, 16)
        except ValueError:
            return -1

    at = s.find("beginbfchar")
    while at >= 0:
        end0 = s.find("endbfchar", at)
        end = len(s) if end0 < 0 else end0
        cur = at + len("beginbfchar")
        while True:
            src, a1 = _pdf_hex_at(s, cur, end)
            dst, a2 = _pdf_hex_at(s, a1, end)
            if src is None or dst is None:
                break
            note_width(src)
            c = hex_to_int(src)
            if c >= 0:
                mp[c] = _pdf_hex_to_utf16(dst)
            cur = a2
        at = s.find("beginbfchar", end)

    at = s.find("beginbfrange")
    while at >= 0:
        end0 = s.find("endbfrange", at)
        end = len(s) if end0 < 0 else end0
        cur = at + len("beginbfrange")
        while True:
            lo, a1 = _pdf_hex_at(s, cur, end)
            hi, a2 = _pdf_hex_at(s, a1, end)
            if lo is None or hi is None:
                break
            note_width(lo)
            lo_v = hex_to_int(lo)
            hi_v = hex_to_int(hi)
            j = a2
            while j < end and _pdf_is_ws(s[j]):
                j += 1
            if j < end and s[j] == "[":
                close0 = s.find("]", j)
                close = end if close0 < 0 or close0 > end else close0
                if lo_v >= 0 and hi_v >= lo_v and hi_v - lo_v <= 65535:
                    c = lo_v
                    k = j + 1
                    while c <= hi_v and k < close:
                        d, k2 = _pdf_hex_at(s, k, close)
                        if d is None:
                            break
                        mp[c] = _pdf_hex_to_utf16(d)
                        c += 1
                        k = k2
                cur = close + 1
            else:
                dst, a3 = _pdf_hex_at(s, a2, end)
                if dst is None:
                    break
                if lo_v >= 0 and hi_v >= lo_v and hi_v - lo_v <= 65535:
                    base = _pdf_hex_to_utf16(dst)
                    for c in range(lo_v, hi_v + 1):
                        mp[c] = _pdf_bump_last(base, c - lo_v)
                cur = a3
        at = s.find("beginbfrange", end)

    return (1 if code_bytes[0] == 0 else code_bytes[0], mp)


def pdf_parse_content(s, fonts=None):
    """Mirror of Pdf.parseContent (operand-stack scan; fonts maps Tf
    names to CMaps, font state resets per stream)."""
    fonts = fonts or {}
    cur_cmap = [None]
    out = []

    def newline():
        j = "".join(out)
        if j and not j.endswith("\n"):
            out.append("\n")

    stack = []
    arr = None  # open array or None

    def push(t):
        nonlocal arr
        if arr is not None:
            arr.append(t)
        else:
            stack.append(t)

    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if _pdf_is_ws(c):
            i += 1
        elif c == "(":
            v, i = pdf_literal_string(s, i)
            push(("s", v))
        elif c == "<" and i + 1 < n and s[i + 1] == "<":
            end = s.find(">>", i + 2)
            i = n if end < 0 else end + 2
        elif c == "<":
            v, i = pdf_hex_string(s, i)
            push(("s", v))
        elif c == "[":
            arr = []
            i += 1
        elif c == "]":
            a = arr if arr is not None else []
            arr = None
            stack.append(("a", a))
            i += 1
        elif c == "/":
            b = i + 1
            i += 1
            while i < n and not _pdf_is_ws(s[i]) and s[i] not in _PDF_DELIM:
                i += 1
            push(("nm", s[b:i]))
        elif c == "%":
            while i < n and s[i] != "\n":
                i += 1
        elif "0" <= c <= "9" or c in "+-.":
            b = i
            i += 1
            while i < n and ("0" <= s[i] <= "9" or s[i] == "."):
                i += 1
            try:
                push(("n", float(s[b:i])))
            except ValueError:
                pass
        else:
            b = i
            while (i < n and not _pdf_is_ws(s[i]) and s[i] not in _PDF_DELIM
                   and not ("0" <= s[i] <= "9") and s[i] not in "+-."):
                i += 1
            op = s[b:max(i, b + 1)]
            if i == b:
                i += 1
            if op == "Tj":
                if stack and stack[-1][0] == "s":
                    out.append(pdf_decode_shown(stack[-1][1], cur_cmap[0]))
            elif op in ("'", '"'):
                newline()
                if stack and stack[-1][0] == "s":
                    out.append(pdf_decode_shown(stack[-1][1], cur_cmap[0]))
            elif op == "TJ":
                if stack and stack[-1][0] == "a":
                    for kind, v in stack[-1][1]:
                        if kind == "s":
                            out.append(pdf_decode_shown(v, cur_cmap[0]))
                        elif kind == "n" and v < -150.0:
                            out.append(" ")
            elif op in ("Td", "TD"):
                if len(stack) >= 2 and stack[-1][0] == "n" and \
                        stack[-1][1] != 0.0:
                    newline()
            elif op == "T*":
                newline()
            elif op == "Tf":
                if len(stack) >= 2 and stack[-2][0] == "nm":
                    cur_cmap[0] = fonts.get(stack[-2][1])
            stack = []
    return "".join(out)


def pdf_length_of(dict_s):
    at = dict_s.find("/Length")
    if at < 0:
        return -1
    i = at + 7
    n = len(dict_s)
    while i < n and _pdf_is_ws(dict_s[i]):
        i += 1
    b = i
    while i < n and "0" <= dict_s[i] <= "9":
        i += 1
    if i == b or i - b > 18:
        return -1
    return int(dict_s[b:i])


# re.ASCII pins \s/\d to the ASCII classes Java uses — Unicode \s also
# matches 0x1C-0x1F/0x85/0xA0 on latin-1-decoded PDF text, silently
# diverging from the production parser on adversarial payloads (ADVICE r6
# medium #1; the repo rule is "never bare \s in mirrored regexes")
_PDF_OBJ_RE = __import__("re").compile(
    r"(\d{1,9})\s+0\s+obj", __import__("re").ASCII)
_PDF_FONT_ENTRY_RE = __import__("re").compile(
    r"/([^\s/<>\[\]()]+)\s+(\d{1,9})\s+0\s+R", __import__("re").ASCII)
_PDF_TOUNI_RE = __import__("re").compile(
    r"/ToUnicode\s+(\d{1,9})\s+0\s+R", __import__("re").ASCII)


def pdf_extract_text(pdf_bytes_):
    """Mirror of Pdf.extractText -> (n_streams, text): stream spans first
    (structural scans skip payload bytes), object headers, /Font resource
    map, /ToUnicode refs; CMap streams feed fonts and are excluded."""
    if pdf_bytes_ is None:
        return (0, "")
    doc = pdf_bytes_.decode("iso-8859-1")
    n = len(doc)

    # pass 0: stream spans (/Length-bounded)
    spans = []  # (at, data_start, ln, dict_s)
    i = 0
    while True:
        at = doc.find("stream", i)
        if at < 0:
            break
        if at >= 3 and doc[at - 3:at] == "end":
            i = at + 6
            continue
        if doc.startswith("stream\r\n", at):
            data_start = at + 8
        elif doc.startswith("stream\n", at):
            data_start = at + 7
        else:
            i = at + 6
            continue
        dict_start = doc.rfind("<<", 0, at)
        dict_s = "" if dict_start < 0 else doc[dict_start:at]
        ln = pdf_length_of(dict_s)
        if ln < 0 or data_start + ln > n:
            i = at + 6
            continue
        spans.append((at, data_start, ln, dict_s))
        i = data_start + ln

    def in_stream_data(pos):
        for (_a, ds, ln, _d) in spans:
            if ds <= pos < ds + ln:
                return True
        return False

    # object headers outside payload spans
    headers = [(m.start(), int(m.group(1)))
               for m in _PDF_OBJ_RE.finditer(doc)
               if not in_stream_data(m.start())]

    def owning_obj(pos):
        best = -1
        for (p, o) in headers:
            if p <= pos:
                best = o
            else:
                break
        return best

    def obj_body(obj_num):
        for idx, (p, o) in enumerate(headers):
            if o == obj_num:
                end_obj = doc.find("endobj", p)
                while end_obj >= 0 and in_stream_data(end_obj):
                    end_obj = doc.find("endobj", end_obj + 6)
                next_hdr = headers[idx + 1][0] if idx + 1 < len(headers) \
                    else n
                end = end_obj if 0 <= end_obj < next_hdr else next_hdr
                return doc[p:end]
        return ""

    # /Font resource dicts -> name -> object (last binding wins)
    font_obj_of = {}
    f_at = doc.find("/Font")
    while f_at >= 0:
        # anchor: token must be exactly "/Font" (next char a delimiter)
        # and the dict must IMMEDIATELY follow (whitespace only between) --
        # mirrors graft.ops.Pdf's anchored scan
        after = f_at + 5
        # ASCII-pinned (str.isalnum accepts Latin-1 superscripts that
        # Java's Character.isLetterOrDigit rejects)
        token_ends = after >= len(doc) or not (
            "A" <= doc[after] <= "Z" or "a" <= doc[after] <= "z"
            or "0" <= doc[after] <= "9")
        if token_ends and not in_stream_data(f_at):
            j = after
            while j < len(doc) and doc[j] in " \t\r\n\f\x00":
                j += 1
            if j + 1 < len(doc) and doc[j] == "<" and doc[j + 1] == "<":
                close = doc.find(">>", j + 2)
                if close >= 0:
                    for m in _PDF_FONT_ENTRY_RE.finditer(
                            doc[j + 2:close]):
                        font_obj_of[m.group(1)] = int(m.group(2))
        f_at = doc.find("/Font", f_at + 5)
    to_uni_of = {}
    for fo in set(font_obj_of.values()):
        m = _PDF_TOUNI_RE.search(obj_body(fo))
        if m:
            to_uni_of[fo] = int(m.group(1))
    cmap_objs = set(to_uni_of.values())

    # pass 1: filter-decode all streams
    all_streams = []
    for (at, data_start, ln, dict_s) in spans:
        raw = pdf_bytes_[data_start:data_start + ln]
        if "/FlateDecode" in dict_s:
            try:
                content = zlib.decompress(raw).decode("iso-8859-1")
            except Exception:
                content = None
        elif "/LZWDecode" in dict_s:
            dec = pdf_lzw_decode(raw)
            content = None if dec is None else dec.decode("iso-8859-1")
        else:
            content = raw.decode("iso-8859-1")
        if content is not None:
            all_streams.append((owning_obj(at), content))

    # pass 2: CMaps -> fonts
    cmap_by_obj = {o: pdf_parse_cmap(s) for (o, s) in all_streams
                   if o in cmap_objs}
    fonts = {}
    for name, fo in font_obj_of.items():
        t = to_uni_of.get(fo)
        if t is not None and t in cmap_by_obj:
            fonts[name] = cmap_by_obj[t]

    # pass 3: content streams in document order
    parts = []
    for (o, content) in all_streams:
        if o in cmap_objs:
            continue
        parsed = pdf_parse_content(content, fonts)
        if parsed:
            parts.append(parsed)
    return (len(parts), "\n".join(parts))


def _pdf_ascii_slice(text, k):
    words = [w for w in (text or "").split(" ") if w][:k]
    return "".join(c for c in " ".join(words) if " " <= c <= "~")


def _pdf_esc(s):
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def pdf_content1(doc_id, text):
    return ("BT\n/F1 12 Tf\n72 720 Td\n" +
            "(" + _pdf_esc(_pdf_ascii_slice(text, 5)) +
            " \\(p\\) \\101 ok) Tj\n" +
            "0 -14 Td\n" +
            ("[(ker) -200 (ned) 10 (!)] TJ\n" if doc_id % 3 == 0
             else "(plain line) Tj\n") +
            "T*\n" +
            "<48656C6C 6F21> Tj\n" +
            "(con\\\ntinued) Tj\n" +
            "ET\n")


def pdf_content2(doc_id, text):
    return ("BT 1 0 0 1 72 700 Tm (second " +
            _pdf_esc(_pdf_ascii_slice(text, 3)) +
            ") Tj 0 -14 TD (tail) ' ET\n")


def pdf_content3(doc_id, text):
    """Mirror of PdfGen.content3 (F2 /ToUnicode font + BOM'd strings)."""
    return ("BT\n/F2 10 Tf\n" +
            "<0102> Tj\n" +
            "(\\020\\021\\022) Tj\n" +
            "<FF> Tj\n" +
            ("<2021> Tj\n" if doc_id % 2 == 0 else "") +
            "0 -14 Td\n" +
            "<FEFF004800490021> Tj\n" +
            ("<FEFFD835DD04> Tj\n" if doc_id % 5 == 0 else "") +
            "/F1 9 Tf\n(back to latin1) Tj\nET\n")


def pdf_cmap_stream(doc_id):
    """Mirror of PdfGen.cmapStream (1-byte codes)."""
    return ("/CIDInit /ProcSet findresource begin\n12 dict begin\n"
            "begincmap\n"
            "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
            "2 beginbfchar\n<01> <0041>\n<02> <D835DD04>\nendbfchar\n"
            "1 beginbfrange\n<10> <12> <0061>\nendbfrange\n" +
            ("1 beginbfrange\n<20> <22> [<0058> <0059005A> <005A>]\n"
             "endbfrange\n" if doc_id % 2 == 0 else "") +
            "endcmap\nend\nend\n")


def _pdf_encode(raw, sel):
    if sel == 1:
        return zlib.compress(raw, 6), " /Filter /FlateDecode"
    if sel == 2:
        return pdf_lzw_encode(raw), " /Filter /LZWDecode"
    return raw, ""


def pdf_bytes(doc_id, text):
    """Token-for-token mirror of PdfGen.pdfBytes."""
    parts = [b"%PDF-1.4\n"]

    def stream_obj(num, raw, sel):
        data, filt = _pdf_encode(raw, sel)
        parts.append(("%d 0 obj\n<< /Length %d%s >>\nstream\n" %
                      (num, len(data), filt)).encode("ascii"))
        parts.append(data)
        parts.append(b"\nendstream\nendobj\n")

    c1 = pdf_content1(doc_id, text).encode("iso-8859-1")
    c2 = pdf_content2(doc_id, text).encode("iso-8859-1")
    c3 = pdf_content3(doc_id, text).encode("iso-8859-1")
    cm = pdf_cmap_stream(doc_id).encode("iso-8859-1")
    stream_obj(1, c1, 0)
    stream_obj(2, c2, 1 if doc_id % 4 == 1 else (2 if doc_id % 4 == 3 else 0))
    parts.append(b"3 0 obj\n<< /Type /Page /Resources << /Font << "
                 b"/F1 4 0 R /F2 6 0 R >> >> >>\nendobj\n")
    parts.append(b"4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont "
                 b"/Helvetica >>\nendobj\n")
    stream_obj(5, c3, 0)
    parts.append(b"6 0 obj\n<< /Type /Font /Subtype /TrueType /BaseFont "
                 b"/AAAAAA+Custom /ToUnicode 7 0 R >>\nendobj\n")
    stream_obj(7, cm, doc_id % 3)
    parts.append(b"trailer\n<< /Root 3 0 R >>\n%%EOF\n")
    return b"".join(parts)


def pdf_rows(doc_items):
    rows = []
    for i, t in doc_items:
        k, text = pdf_extract_text(pdf_bytes(i, t))
        rows.append((i, k, len(text), text))
    return rows


# ---- format-dispatch extraction (q_extract_route mirror) ----

def route_rows(doc_items):
    """Magic-byte dispatch: %PDF- -> pdf extractor, else charset-sniff ->
    HTML extraction — mirror of Pdf.extractAny over the mixed fixture."""
    rows = []
    for i, t in doc_items:
        b = pdf_bytes(i, t) if i % 2 == 1 else cs_payload(i, t)
        if b[:5] == b"%PDF-":
            _k, text = pdf_extract_text(b)
            rows.append((i, "pdf", len(text), text))
        else:
            _cs, _bom, decoded = cs_decode(b)
            text = extract_text(decoded)
            rows.append((i, "html", len(text), text))
    return rows
