#!/usr/bin/env node
// Writes the expected strings of JS `Number.prototype.toFixed` that
// JsToFixedSpec checks graft.functions.JsToFixed against:
//
//   node dev/gen_js_to_fixed.js > src/test/resources/js_to_fixed.tsv
//
// One line per (value, digits): the value's IEEE-754 bits in hex, its JS
// `String` form (for reading only; `-0` prints as `0`), the digits, and
// `value.toFixed(digits)`. The values are the rounding ties and edge cases
// named below plus a fixed pseudo-random sample, so the file is the same on
// every run of the same node version.
'use strict';

const named = [
  // exact-binary ties that the shortest-decimal (JVM) rounding gets wrong
  1.295, 2.485, 2.985, 2.15, 1.005, 1.25, 1.255, 1.45, 0.15, 0.35, 0.45,
  8.345, 10.235, 999.995, 9.995, 9.95, 0.95, 1.055, 4.35, 5.55, 6.65,
  // exact ties in binary, which round half up (away from zero)
  0.5, 1.5, 2.5, 0.125, 0.375, 0.625, 99.5, -0.5, -2.5, -0.125,
  // signs and zeros
  0, -0, -0.04, -0.004, -1e-7, 1e-7, 5e-324, -5e-324, 1, -1, 12, 5,
  // large values, around the exponent form at 1e21
  123456789.125, 4503599627370497, 9007199254740993, 1e15 + 0.5,
  1e20, 999999999999999900000, 1e21, -1e21, 1.5e21, -1.5e21, 1.2345e22,
  1.7976931348623157e308, Infinity, -Infinity, NaN,
];

// a 32-bit LCG, so the sample does not depend on Math.random
let state = 20261019;
function next() {
  state = (Math.imul(state, 1664525) + 1013904223) >>> 0;
  return state / 4294967296;
}
const sampled = [];
for (let i = 0; i < 200; i++) {
  // magnitudes and depths as GeoNet writes them: up to 3 decimals
  sampled.push(Math.round(next() * 10000) / 1000);
  sampled.push(Math.round(next() * 700000) / 1000);
}
for (let i = 0; i < 100; i++) {
  // any sign, any scale from 1e-9 to 1e22
  const x = (next() - 0.5) * Math.pow(10, Math.floor(next() * 32) - 9);
  sampled.push(x);
}

function bits(x) {
  const view = new DataView(new ArrayBuffer(8));
  view.setFloat64(0, x);
  return view.getBigUint64(0).toString(16).padStart(16, '0');
}

const lines = [];
for (const x of named.concat(sampled)) {
  for (const digits of [0, 1, 2]) {
    lines.push([bits(x), String(x), digits, x.toFixed(digits)].join('\t'));
  }
}
process.stdout.write(lines.join('\n') + '\n');
